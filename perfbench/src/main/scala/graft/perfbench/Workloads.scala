package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.api.{CollectionConfig, VectorCollection}
import graft.index.{FeatureHashModel, Ingest}
import graft.ops.{Dedup, Similarity, TextAnalysis}

/** What a workload hands back: end-to-end metrics, the workload's own
  * named results (feeding the per-layer table), and facts for the run
  * record. */
final case class Outcome(
    endToEnd: Seq[(String, Double, String)],
    named: Map[String, Double],
    overheadPct: Double,
    unit: String,
    facts: Seq[(String, String)])

/** Counts every public call the benchmark makes, and every call that
  * threw or returned a wrong answer. */
final class Ops {
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]

  /** One public call; a throw counts as a failed op and yields None. */
  def call[T](what: String)(body: => T): Option[T] = {
    attempted += 1
    try Some(body)
    catch {
      case e: Exception =>
        fail(s"$what threw ${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(300)}")
        None
    }
  }

  /** An output check on a call already counted. */
  def check(ok: Boolean, what: => String): Unit = if (!ok) fail(what)

  private def fail(what: String): Unit = {
    failed += 1
    if (failures.size < 20) failures += what
    System.err.println(s"[perfbench] FAILED: $what")
  }
}

/** Everything a workload run needs. */
final case class Ctx(
    spark: SparkSession, seed: Long, seconds: Int, tracer: Tracer, ops: Ops,
    workDir: String, spec: CorpusSpec)

object Workloads {
  val Names: Seq[String] = Seq("bulk_index", "serve_mixed", "curate")
  val SetupRounds = 3
  val Batches = 4
  val IvfClusters = 64
  val Nprobe = 4
  val K = 5
  /** Upper bound on serve_mixed cycles in one run. */
  val MaxCycles = 50

  /** The embedding model of the `pages` collection: the ColPali shape,
    * one 64-d vector per 16-token chunk. */
  val Model: FeatureHashModel = FeatureHashModel(64, chunkTokens = Some(16))
  private val PageCols = Seq("point_id", "mv", "filename", "relative_path", "full_path",
    "folder", "indexed_at")

  def run(name: String, c: Ctx): Outcome = name match {
    case "bulk_index" => bulkIndex(c)
    case "serve_mixed" => serveMixed(c)
    case "curate" => curate(c)
  }

  private def now(): Long = System.nanoTime()
  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Set-up round 0, whose result the workload uses, and a function
    * that runs the other rounds: the workload calls it after measuring,
    * so they run warm, as any set-up a long-lived process repeats. Each
    * round has its own directory; the later ones are deleted. `setup_s`
    * is the median over all rounds. */
  private def setups[T](c: Ctx)(one: (String, Int) => T): (T, () => Seq[Double]) = {
    def round(i: Int): (T, Double) = {
      val t0 = now()
      val r = c.tracer.span("setup", i)(one(s"${c.workDir}/setup_$i", i))
      (r, secs(t0))
    }
    val (kept, s0) = round(0)
    (kept, () => s0 +: (1 until SetupRounds).map { i =>
      val s = round(i)._2
      Files.deleteTree(s"${c.workDir}/setup_$i")
      s
    })
  }

  /** The measured passes of a batch workload. Pass 0 runs right after
    * set-up, with the operators cold: a batch job pays its JIT and
    * codegen warm-up on every run, so that is the time its users see.
    * More passes follow while the next is expected to end inside the
    * `seconds` window. A traced run traces pass 0, then runs a traced
    * pass 1 (root span `overhead`, kept out of the per-layer figures)
    * and an untraced pass 2, whose times give the tracing overhead
    * (pass 2 runs warmer, so it errs high). Returns (seconds, result)
    * per measured pass, the overhead in percent, and the passes run. */
  private def passes[T](c: Ctx)(one: Int => Option[T]): (Seq[(Double, T)], Double, Int) = {
    val tr = c.tracer
    def timed(i: Int, root: String = "pass"): (Double, Option[T]) = {
      val t = now()
      val r = tr.span(root, i)(one(i))
      (secs(t), r)
    }
    if (tr.on) {
      val (s0, r0) = timed(0)
      val (s1, _) = timed(1, "overhead")
      tr.paused = true
      val (s2, _) = timed(2)
      tr.paused = false
      (r0.map(r => (s0, r)).toSeq, (s1 / s2 - 1) * 100, 3)
    } else {
      val out = mutable.ArrayBuffer.empty[(Double, T)]
      val t0 = now()
      var i = 0
      var last = 0.0
      while (i == 0 || secs(t0) + last <= c.seconds) {
        val (t, r) = timed(i)
        r.foreach(x => out += ((t, x)))
        last = t
        i += 1
      }
      (out.toSeq, 0.0, i)
    }
  }

  /** A JSON array of seconds, for the run record. */
  private def seconds(xs: Seq[Double]): String = xs.map(x => f"$x%.3f").mkString("[", ",", "]")

  private def medianOr0(xs: Iterable[Double]): Double =
    if (xs.isEmpty) 0.0 else Stats.median(xs.toSeq)

  private def endToEnd(setupS: Seq[Double], throughput: Double, p50ms: Double) = Seq(
    ("setup_s", Stats.median(setupS), "s"),
    ("throughput_per_s", throughput, "1/s"),
    ("latency_p50_ms", p50ms, "ms"))

  // ------------------------------------------------------------------
  // bulk_index: the write path

  /** What one bulk-index pass built and how long it took. */
  private final case class Built(
      pages: VectorCollection, dense: VectorCollection, ivfPath: String,
      points: Long, vectors: Long, seconds: Double) {
    def storedBytes: Long =
      Files.bytes(pages.path) + Files.bytes(dense.path) + Files.bytes(ivfPath)
  }

  /** Expected `pages` points: documents the scan keeps (png/jpg/jpeg
    * in any case, by the id's extension slot) that the decode keeps.
    * Corpus ids are copy·1e7 + base id. */
  private def expectedPages(spec: CorpusSpec): Long =
    (for (c <- 0 until spec.copies; i <- 0 until spec.baseDocs) yield c * 10000000L + i)
      .count(id => Set(0L, 1L, 2L, 4L, 5L, 6L).contains(id % 8) && id % 97 != 0).toLong

  /** scan → decode → embed → incremental upsert of every arrival batch
    * into `pages` (then, with `redeliver`, the first batch once more),
    * then the dense vectors into `dense` and its IVF index. The output
    * checks run off the clock. */
  private def buildIndex(
      c: Ctx, corpusDir: String, batches: Seq[String], out: String,
      redeliver: Boolean, check: Boolean = true): Option[Built] = {
    val spark = c.spark
    val tr = c.tracer
    val t0 = now()
    var pages: Option[VectorCollection] = None
    var written = 0L
    var vectors = 0L
    def decodedOf(path: String): DataFrame =
      Ingest.tolerantDecode(Ingest.imageScanFilter(Ingest.withPaths(spark.read.parquet(path))))
    batches.foreach { b =>
      c.ops.call("ingest batch") {
        val decoded = tr.span("ingest.scan_decode") {
          val d = decodedOf(b)
          Ingest.decodeStats(d).collect()
          d
        }
        val points = tr.span("embed") {
          val p = Ingest.buildPointsWith(decoded, Model, batchSize = 16)
            .select(PageCols.map(col): _*).persist()
          vectors += p.agg(sum(size(col("mv")))).head.getLong(0)
          p
        }
        val coll = pages.getOrElse {
          val p = VectorCollection.ensure(spark, s"$out/pages", points,
            CollectionConfig(idCol = "point_id", vectorCol = "mv", dim = Model.dim,
              multiVector = true))
          pages = Some(p)
          p
        }
        written += tr.span("upsert")(coll.upsertIncremental(points))
        points.unpersist()
      }
    }
    val again =
      if (!redeliver) None
      else pages.flatMap(p => c.ops.call("re-delivery")(tr.span("upsert.redelivery") {
        p.upsertIncremental(Ingest.buildPointsWith(decodedOf(batches.head), Model, batchSize = 16)
          .select(PageCols.map(col): _*))
      }))
    val emb = spark.read.parquet(s"$corpusDir/embeddings.parquet")
    val dense = c.ops.call("dense upsert")(tr.span("upsert") {
      val d = VectorCollection.ensure(spark, s"$out/dense", emb,
        CollectionConfig(idCol = "vec_id", vectorCol = "embedding", dim = Corpus.Dim,
          multiVector = false))
      written += d.upsertIncremental(emb)
      d
    })
    val ivf = dense.flatMap(d =>
      c.ops.call("ivf build")(tr.span("ivf_build")(d.buildIvfIndex(IvfClusters))))
    val seconds = secs(t0)

    // output checks, off the clock
    if (redeliver)
      c.ops.check(again.contains(0L), s"re-delivery wrote ${again.getOrElse(-1L)} rows, not 0")
    for (p <- pages; d <- dense; i <- ivf) yield {
      if (check) checkIndex(c, p, d, i)
      Built(p, d, i, written, vectors, seconds)
    }
  }

  /** Counts equal distinct ids equal what the corpus implies, and the
    * IVF index holds every dense point. */
  private def checkIndex(c: Ctx, p: VectorCollection, d: VectorCollection, ivf: String): Unit = {
    def countAndDistinct(path: String, id: String): (Long, Long) = {
      val r = c.spark.read.parquet(path).agg(count(lit(1)), countDistinct(id)).head
      (r.getLong(0), r.getLong(1))
    }
    val want = expectedPages(c.spec)
    val (pc, pd) = countAndDistinct(p.path, "point_id")
    c.ops.check(pc == want && pd == want, s"pages holds $pc points ($pd distinct ids), expected $want")
    val (dc, dd) = countAndDistinct(d.path, "vec_id")
    c.ops.check(dc == c.spec.vecs && dd == dc, s"dense holds $dc points ($dd distinct), expected ${c.spec.vecs}")
    val (ic, id) = countAndDistinct(ivf, "vec_id")
    c.ops.check(ic == dc && id == dc, s"IVF index holds $ic rows ($id distinct ids) of $dc points")
  }

  private def bulkIndex(c: Ctx): Outcome = {
    val ((dir, counts, batches), moreSetups) = setups(c) { (dir, _) =>
      val n = c.tracer.span("corpus")(Corpus.synthesize(c.spark, c.seed, c.spec, dir))
      (dir, n, Corpus.splitBatches(c.spark, c.seed, dir, Batches))
    }
    val (built, overhead, ran) = passes(c) { i =>
      val out = s"${c.workDir}/pass_$i"
      try buildIndex(c, dir, batches, out, redeliver = true).map(b => (b, b.storedBytes))
      finally Files.deleteTree(out)
    }
    val setupS = moreSetups()
    val rate = medianOr0(built.map { case (_, (b, _)) => b.points / b.seconds })
    Outcome(
      endToEnd = endToEnd(setupS, rate, medianOr0(built.map(_._2._1.seconds)) * 1e3),
      named = Map(
        "index_points_per_s" -> rate,
        "stored_bytes_per_point" -> medianOr0(built.map { case (_, (b, n)) => n.toDouble / b.points }),
        "embed.vectors" -> medianOr0(built.map(_._2._1.vectors.toDouble)),
        "upsert.rows_written" -> medianOr0(built.map(_._2._1.points.toDouble))),
      overheadPct = overhead,
      unit = "pass",
      facts = Seq("passes" -> ran.toString, "measured_passes" -> built.size.toString,
        "setup_rounds_s" -> seconds(setupS), "measured_passes_s" -> seconds(built.map(_._1)),
        "documents" -> counts.documents.toString, "embeddings" -> counts.embeddings.toString))
  }

  // ------------------------------------------------------------------
  // serve_mixed: the read path with writes beside it

  private def labelFilter(labels: Seq[Int]): Column = labels match {
    case Nil => lit(true)
    case Seq(l) => col("label") === l
    case ls => col("label").isin(ls: _*)
  }

  /** Parquet files the executed plan's scans opened. */
  private def filesRead(df: DataFrame): Long = {
    def walk(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case other => other +: other.children.flatMap(walk)
    }
    walk(df.queryExecution.executedPlan).collect { case s: FileSourceScanExec =>
      s.metrics.get("numFiles").map(_.value).getOrElse(0L)
    }.sum
  }

  private val pointSchema = StructType(Seq(
    StructField("vec_id", LongType, nullable = false),
    StructField("embedding", ArrayType(FloatType, containsNull = false)),
    StructField("label", IntegerType)))

  private def serveMixed(c: Ctx): Outcome = {
    val spark = c.spark
    val tr = c.tracer
    // the corpus is the set-up's input; set-up builds pages, dense and IVF
    val corpusDir = s"${c.workDir}/corpus"
    val counts = tr.span("corpus")(Corpus.synthesize(spark, c.seed, c.spec, corpusDir))
    val (builtOpt, moreSetups) = setups(c) { (dir, round) =>
      buildIndex(c, corpusDir, Seq(s"$corpusDir/documents.parquet"), dir,
        redeliver = false, check = round == 0)
    }
    val built = builtOpt.getOrElse(sys.error("serve_mixed set-up failed to build the index"))
    val pages = built.pages
    val dense = built.dense

    // the client's copy of the dense rows, for brute-force checks
    val rows = mutable.ArrayBuffer.empty[(Long, Array[Float], Int)]
    val labelOf = mutable.Map.empty[Long, Int]
    def keep(id: Long, v: Array[Float], label: Int): Unit = {
      rows += ((id, v, label))
      labelOf(id) = label
    }
    spark.read.parquet(dense.path).collect().foreach { r =>
      keep(r.getLong(0), r.getSeq[Float](1).toArray, r.getInt(2))
    }
    val pool = rows.map(_._2).toIndexedSeq
    def brute(q: Array[Float], labels: Seq[Int]): Seq[(Long, Double)] = {
      val ls = labels.toSet
      Stats.bruteTopK(
        rows.iterator.filter(r => ls.isEmpty || ls.contains(r._3)).map(r => (r._1, r._2)).toSeq,
        q, K)
    }
    def hits(rs: Array[Row]): Seq[(Long, Double)] = rs.map(r => (r.getLong(0), r.getDouble(1))).toSeq

    val singles = mutable.ArrayBuffer.empty[(String, Boolean, Double)] // (kind, traced, seconds)
    val writeSecs = mutable.ArrayBuffer.empty[Double]
    val batchSecs = mutable.ArrayBuffer.empty[Double]
    val recalls = mutable.ArrayBuffer.empty[(Seq[Long], Seq[Long])]
    val annFiles = mutable.ArrayBuffer.empty[Double]
    val pairOf = mutable.Map.empty[Long, Long] // ann request -> exact request
    val exactAnswers = mutable.Map.empty[Long, Seq[Long]]
    var busy = 0.0
    var calls = 0L

    def timed[T](body: => T): (T, Double) = {
      val t0 = now(); val r = body; (r, secs(t0))
    }
    def serve(req: Request, traced: Boolean, measured: Boolean): Unit = req match {
      case Exact(id, v, ls) =>
        val (r, s) = timed(c.ops.call("search")(tr.span("req.exact", id) {
          tr.query("search")(dense.search(v.toSeq, K, labelFilter(ls)))(_.collect())
        }))
        r.foreach { rs =>
          val got = hits(rs)
          exactAnswers(id) = got.map(_._1)
          c.ops.check(Stats.sameTopK(got, brute(v, ls)),
            s"search $id answered ${got.mkString(",")}, brute force ${brute(v, ls).mkString(",")}")
        }
        if (measured) { singles += (("exact", traced, s)); busy += s; calls += 1 }
      case Ann(id, paired, v, labels) =>
        val (r, s) = timed(c.ops.call("searchAnn")(tr.span("req.ann", id) {
          tr.query("ann")(dense.searchAnn(v.toSeq, K, Nprobe, labelFilter(labels))) { df =>
            val out = df.collect()
            if (tr.on && !tr.paused) annFiles += filesRead(df).toDouble
            out
          }
        }))
        r.foreach { rs =>
          // an IVF probe may find fewer than k rows passing the filter
          val got = hits(rs)
          val ls = labels.toSet
          c.ops.check(got.size <= K && got.map(_._2) == got.map(_._2).sortBy(-_) &&
            got.forall(h => labelOf.get(h._1).exists(l => ls.isEmpty || ls.contains(l))),
            s"searchAnn $id answered ${got.mkString(",")}")
          if (measured) exactAnswers.get(paired).foreach(e => recalls += ((got.map(_._1), e)))
          pairOf(id) = paired
        }
        if (measured) { singles += (("ann", traced, s)); busy += s; calls += 1 }
      case MaxSim(id, text) =>
        val (r, s) = timed(c.ops.call("searchMaxSim")(tr.span("req.maxsim", id) {
          val qm = Model.embedBatch(Seq(text)).head.map(_.toSeq).toSeq
          tr.query("maxsim")(pages.searchMaxSim(qm, K))(_.collect())
        }))
        r.foreach { rs =>
          val sc = rs.map(_.getDouble(1)).toSeq
          c.ops.check(rs.length == K && sc == sc.sortBy(-_), s"searchMaxSim $id returned $sc")
        }
        if (measured) { singles += (("maxsim", traced, s)); busy += s; calls += 1 }
      case Batch(id, vs) =>
        val (r, s) = timed(c.ops.call("searchBatch")(tr.span("req.batch", id) {
          tr.query("batch")(dense.searchBatch(vs.zipWithIndex.map { case (v, i) => (i.toLong, v.toSeq) }, K))(
            _.collect())
        }))
        r.foreach { rs =>
          val byQ = rs.groupBy(_.getLong(0))
          val ok = vs.indices.forall { i =>
            val got = byQ.getOrElse(i.toLong, Array.empty[Row]).sortBy(_.getLong(3))
              .map(x => (x.getLong(1), x.getDouble(2))).toSeq
            Stats.sameTopK(got, brute(vs(i), Nil))
          }
          c.ops.check(ok, s"searchBatch $id differs from brute force")
        }
        if (measured) { batchSecs += s; busy += s; calls += 1 }
      case Write(id, ps) =>
        val (r, s) = timed(c.ops.call("write")(tr.span("req.write", id) {
          val df = spark.createDataFrame(
            spark.sparkContext.parallelize(ps.map { case (i, v, l) => Row(i, v.toSeq, l) }, 1),
            pointSchema)
          val a = tr.span("upsert")(dense.upsertIncremental(df))
          val b = tr.span("ann_append")(dense.upsertAnnIndex(df))
          (a, b)
        }))
        r.foreach { case (a, b) =>
          c.ops.check(a == ps.size && b == ps.size, s"write $id added $a rows and $b index rows, not ${ps.size}")
          ps.foreach { case (i, v, l) => keep(i, v, l) }
        }
        if (measured) { writeSecs += s; busy += s; calls += 1 }
    }

    // warm-up: one request of each read kind from a separate seed, untimed
    tr.paused = true
    Mix.generate(c.seed ^ 0x5eedL, 1, pool, Corpus.Vocab)
      .filterNot(_.isInstanceOf[Write])
      .groupBy(_.getClass).values.map(_.head).toSeq.sortBy(_.id)
      .foreach(serve(_, traced = false, measured = false))
    tr.paused = false
    exactAnswers.clear()

    // whole cycles while the next is expected to end inside the window;
    // in a traced run every other request runs untraced; an ANN request
    // follows its exact twin, so the pair's rows can be compared
    val mix = Mix.generate(c.seed, MaxCycles, pool, Corpus.Vocab)
    val t0 = now()
    var cycle = 0
    var last = 0.0
    var flip = false
    while (cycle == 0 || (cycle < MaxCycles && secs(t0) + last <= c.seconds)) {
      val tc = now()
      mix.slice(cycle * Mix.CycleLen, (cycle + 1) * Mix.CycleLen).foreach { r =>
        val traced = tr.on && (r match {
          case _: Ann => !tr.paused
          case _ => { flip = !flip; flip }
        })
        tr.paused = tr.on && !traced
        serve(r, traced, measured = true)
      }
      last = secs(tc)
      cycle += 1
    }
    tr.paused = false
    val loopS = secs(t0)
    val setupS = moreSetups()
    val v = tr.finish()
    val single = singles.map(_._3 * 1e3).toSeq
    // per kind traced/untraced median ratio, averaged over the kinds
    val kindRatios = singles.groupBy(_._1).values.toSeq.flatMap { xs =>
      val on = xs.filter(_._2).map(_._3)
      val off = xs.filterNot(_._2).map(_._3)
      if (on.isEmpty || off.isEmpty) None else Some(Stats.median(on.toSeq) / Stats.median(off.toSeq))
    }
    val tail = Stats.tailPercentile(single.size).getOrElse(50.0)
    // ANN rows scanned against its paired exact search's rows
    val exactRows = v.named("req.exact").map(s => s.req -> v.inclusive(s).inputRows).toMap
    val ratios = v.named("req.ann").flatMap { s =>
      for (p <- pairOf.get(s.req); e <- exactRows.get(p) if e > 0)
        yield v.inclusive(s).inputRows.toDouble / e
    }
    Outcome(
      endToEnd = endToEnd(setupS, calls / busy, Stats.median(single)),
      named = Map(
        "query_p50_ms" -> Stats.median(single),
        "query_p95_ms" -> Stats.percentile(single, 95.0),
        "batch_qps" -> Mix.BatchSize * batchSecs.size / batchSecs.sum,
        "upsert_p50_ms" -> Stats.median(writeSecs.toSeq) * 1e3,
        "ann_recall_at_5" -> Stats.meanRecall(recalls.toSeq),
        "index_points_per_s" -> built.points / built.seconds,
        "stored_bytes_per_point" -> built.storedBytes.toDouble / rows.size,
        "collection.files" -> Files.parquetFiles(dense.path).toDouble,
        "ann.files_read" -> (if (annFiles.isEmpty) 0.0 else Stats.median(annFiles.toSeq)),
        "ann.rows_scanned_ratio" -> (if (ratios.isEmpty) 0.0 else Stats.median(ratios)),
        "embed.vectors" -> built.vectors.toDouble,
        "upsert.rows_written" -> built.points.toDouble),
      overheadPct = if (kindRatios.isEmpty) 0.0 else (kindRatios.sum / kindRatios.size - 1) * 100,
      unit = "setup",
      facts = Seq("cycles" -> cycle.toString, "single_reads" -> single.size.toString,
        "setup_rounds_s" -> seconds(setupS), "loop_s" -> f"$loopS%.3f",
        "tail_percentile" -> tail.toString, "documents" -> counts.documents.toString,
        "embeddings" -> counts.embeddings.toString))
  }

  // ------------------------------------------------------------------
  // curate: the LLM-data pipeline

  private val DupOffset = 1000000L
  private val CopyStride = 10000000L

  /** One curate pass over the corpus in `dir`: x_corpus_pipeline's
    * composition, then knLogprob, then semDedup. Returns the near-dup
    * pair count. */
  private def curatePass(c: Ctx, dir: String): Option[Long] = {
    val spark = c.spark
    val tr = c.tracer
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val emb = spark.read.parquet(s"$dir/embeddings.parquet").select("vec_id", "embedding")
    val corpus = Dedup.corpusWithDups(docs)
    val pairs = c.ops.call("minhashPairs")(tr.span("dedup.minhash") {
      val p = Dedup.minhashPairs(corpus).select(col("id_a"), col("id_b")).persist()
      (p, p.count())
    })
    val cc = pairs.flatMap { case (p, _) => c.ops.call("clusters")(tr.span("dedup.clusters") {
      Dedup.clusters(p).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    })}
    cc.foreach { labels =>
      val nonKeepers = labels.collect { case (id, cl) if id != cl => id }.toSeq
      c.ops.call("quality + split")(tr.span("text.quality") {
        import spark.implicits._
        val survivors = docs.join(nonKeepers.toDF("doc_id"), Seq("doc_id"), "left_anti")
        val kept = TextAnalysis.qualityScore(survivors)
          .filter(col("quality") >= 0.7)
          .select(col("doc_id"), col("quality"))
        graft.ops.Curation.withSplit(survivors.select(col("doc_id"), col("lang")))
          .join(kept, Seq("doc_id"))
          .select(col("doc_id"), col("lang"), col("quality"), col("split"))
          .queryExecution.toRdd.count()
      })
      // every planted copy's cluster keeps an original document, and
      // the original survives unless a smaller original outranks it
      def isCopy(id: Long) = id % CopyStride >= DupOffset
      val copies = labels.keys.filter(isCopy)
      val bad = copies.filter { d =>
        val keeper = labels(d)
        isCopy(keeper) || labels.getOrElse(d - DupOffset, d - DupOffset) != keeper
      }
      c.ops.check(bad.isEmpty, s"curate dropped the original of planted copies ${bad.take(5).mkString(",")}")
      c.ops.check(copies.nonEmpty, "curate found none of the planted copies")
    }
    pairs.foreach(_._1.unpersist())
    c.ops.call("knLogprob")(tr.span("text.kn_logprob") {
      TextAnalysis.knLogprob(docs).queryExecution.toRdd.count()
    }).foreach(n => c.ops.check(n == c.spec.docs, s"knLogprob scored $n of ${c.spec.docs} documents"))
    c.ops.call("semDedup")(tr.span("semdedup") {
      Similarity.semDedup(emb).queryExecution.toRdd.count()
    }).foreach(n => c.ops.check(n == c.spec.vecs, s"semDedup returned $n rows for ${c.spec.vecs} points"))
    pairs.map(_._2)
  }

  private def curate(c: Ctx): Outcome = {
    val (dir, moreSetups) = setups(c) { (dir, _) =>
      c.tracer.span("corpus")(Corpus.synthesize(c.spark, c.seed, c.spec, dir))
      dir
    }
    val (done, overhead, ran) = passes(c)(_ => curatePass(c, dir))
    val setupS = moreSetups()
    val time = medianOr0(done.map(_._1))
    Outcome(
      endToEnd = endToEnd(setupS, c.spec.docs / time, time * 1e3),
      named = Map(
        "curate_docs_per_s" -> c.spec.docs / time,
        "dedup.pairs" -> medianOr0(done.map(_._2.toDouble))),
      overheadPct = overhead,
      unit = "pass",
      facts = Seq("passes" -> ran.toString, "measured_passes" -> done.size.toString,
        "setup_rounds_s" -> seconds(setupS), "measured_passes_s" -> seconds(done.map(_._1)),
        "documents" -> c.spec.docs.toString, "embeddings" -> c.spec.vecs.toString))
  }
}
