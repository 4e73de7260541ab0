package graft.perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files => JFiles, Paths}

import org.apache.spark.sql.SparkSession

/** The lifecycle benchmark's JVM entry point.
  *
  * {{{
  * Main --workload bulk_index|serve_mixed|curate --seed N --seconds S
  *      --trace 0|1 --work DIR --record FILE
  * }}}
  *
  * Runs one workload in one local[nproc] session with a single client
  * thread, writes the run record (and, traced, the spans) to `--record`
  * and prints the result object as the last line of stdout. */
object Main {

  /** Corpus per workload: ScaleData copies of a seeded base. */
  val Specs: Map[String, CorpusSpec] = Map(
    "bulk_index" -> CorpusSpec(baseDocs = 500, baseVecs = 250, copies = 4),
    "serve_mixed" -> CorpusSpec(baseDocs = 250, baseVecs = 250, copies = 4),
    "curate" -> CorpusSpec(baseDocs = 500, baseVecs = 250, copies = 4))

  /** Per-layer metrics, in output order, with their units. */
  val PerLayer: Seq[(String, String)] = Seq(
    "ingest.scan_decode_s" -> "s", "embed.s" -> "s", "embed.vectors" -> "count",
    "upsert.s" -> "s", "upsert.rows_written" -> "count", "upsert.redelivery_s" -> "s",
    "ivf_build.s" -> "s", "ivf_build.jobs" -> "count", "ivf_build.cpu_s" -> "s",
    "index_points_per_s" -> "1/s", "stored_bytes_per_point" -> "B",
    "search.plan_ms" -> "ms", "search.exec_ms" -> "ms", "search.rows_scanned_per_hit" -> "count",
    "maxsim.plan_ms" -> "ms", "maxsim.exec_ms" -> "ms", "collection.files" -> "count",
    "ann.plan_ms" -> "ms", "ann.exec_ms" -> "ms", "ann.files_read" -> "count",
    "ann.rows_scanned_ratio" -> "ratio", "batch.s" -> "s", "batch.shuffle_mb" -> "MB",
    "ann_append.s" -> "s", "query_p50_ms" -> "ms", "query_p95_ms" -> "ms",
    "batch_qps" -> "1/s", "upsert_p50_ms" -> "ms", "ann_recall_at_5" -> "ratio",
    "dedup.minhash_s" -> "s", "dedup.pairs" -> "count", "dedup.clusters_s" -> "s",
    "dedup.clusters_jobs" -> "count", "text.quality_s" -> "s", "text.kn_logprob_s" -> "s",
    "text.kn_shuffle_mb" -> "MB", "text.kn_spill_mb" -> "MB", "semdedup.s" -> "s",
    "curate_docs_per_s" -> "1/s", "trace_overhead_pct" -> "%", "ops_failed_ratio" -> "ratio")

  /** Per-layer values from the trace: layer times, jobs and CPU are
    * per pass (bulk_index, curate) or per set-up (serve_mixed); `_ms`
    * values are medians per call. */
  def perLayer(v: TraceView, o: Outcome, ops: Ops): Map[String, Double] = {
    def unitSum(layer: String)(f: Span => Double) = v.perUnit(layer, o.unit)(f)
    def secs(layer: String) = unitSum(layer)(_.seconds)
    def ms(name: String) = v.perCall(name)(_.seconds * 1e3)
    Map(
      "ingest.scan_decode_s" -> secs("ingest.scan_decode"),
      "embed.s" -> secs("embed"),
      "upsert.s" -> secs("upsert"),
      "upsert.redelivery_s" -> secs("upsert.redelivery"),
      "ivf_build.s" -> secs("ivf_build"),
      "ivf_build.jobs" -> unitSum("ivf_build")(v.inclusive(_).jobs.toDouble),
      "ivf_build.cpu_s" -> unitSum("ivf_build")(v.inclusive(_).cpuNs / 1e9),
      "search.plan_ms" -> ms("search.plan"),
      "search.exec_ms" -> ms("search.exec"),
      "search.rows_scanned_per_hit" ->
        v.perCall("search")(v.inclusive(_).inputRows.toDouble / Workloads.K),
      "maxsim.plan_ms" -> ms("maxsim.plan"),
      "maxsim.exec_ms" -> ms("maxsim.exec"),
      "ann.plan_ms" -> ms("ann.plan"),
      "ann.exec_ms" -> ms("ann.exec"),
      "batch.s" -> v.perCall("batch")(_.seconds),
      "batch.shuffle_mb" -> v.perCall("batch")(v.inclusive(_).shuffleBytes / 1e6),
      "ann_append.s" -> v.perCall("ann_append")(_.seconds),
      "dedup.minhash_s" -> secs("dedup.minhash"),
      "dedup.clusters_s" -> secs("dedup.clusters"),
      "dedup.clusters_jobs" -> unitSum("dedup.clusters")(v.inclusive(_).jobs.toDouble),
      "text.quality_s" -> secs("text.quality"),
      "text.kn_logprob_s" -> secs("text.kn_logprob"),
      "text.kn_shuffle_mb" -> unitSum("text.kn_logprob")(v.inclusive(_).shuffleBytes / 1e6),
      "text.kn_spill_mb" -> unitSum("text.kn_logprob")(v.inclusive(_).spillBytes / 1e6),
      "semdedup.s" -> secs("semdedup"),
      "trace_overhead_pct" -> o.overheadPct,
      "ops_failed_ratio" -> ops.failed.toDouble / math.max(ops.attempted, 1L)) ++ o.named
  }

  private def loadavg(): Seq[Double] =
    try new String(JFiles.readAllBytes(Paths.get("/proc/loadavg")), StandardCharsets.UTF_8)
      .split("\\s+").take(3).toSeq.map(_.toDouble)
    catch { case _: Exception => Seq(-1.0, -1.0, -1.0) }

  /** (steal, total) jiffies of all CPUs so far, from /proc/stat. */
  private def cpuJiffies(): (Long, Long) =
    try {
      val f = new String(JFiles.readAllBytes(Paths.get("/proc/stat")), StandardCharsets.UTF_8)
        .linesIterator.next().split("\\s+").drop(1).map(_.toLong)
      (if (f.length > 7) f(7) else 0L, f.sum)
    } catch { case _: Exception => (0L, 0L) }

  /** Peak resident set of this process (VmHWM), in MB. */
  private def peakRssMb(): Double =
    try new String(JFiles.readAllBytes(Paths.get("/proc/self/status")), StandardCharsets.UTF_8)
      .linesIterator.find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    catch { case _: Exception => 0.0 }

  private def num(x: Double): String =
    if (x.isNaN || x.isInfinite) "null" else java.lang.Double.toString(x)

  private def str(s: String): String = graft.JsonOut.jsonStr(s)

  def main(args: Array[String]): Unit = {
    // ambient load at process entry, before the session burns any CPU
    val loadAtEntry = loadavg()
    val jiffiesAtEntry = cpuJiffies()
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    require(Workloads.Names.contains(workload), s"unknown workload '$workload'")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toInt
    val trace = opts("trace") == "1"
    val work = opts("work")
    val record = opts("record")
    val cpus = Runtime.getRuntime.availableProcessors()

    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"$work/hadoop-tmp")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val out = new StringBuilder
    try {
      val tracer = new Tracer(spark.sparkContext, trace)
      val ops = new Ops
      val spec = Specs(workload)
      val o = Workloads.run(workload, Ctx(spark, seed, seconds, tracer, ops, work, spec))
      val view = tracer.finish()
      val rss = peakRssMb()
      val e2e = o.endToEnd :+ (("peak_rss_mb", rss, "MB"))
      val layers = perLayer(view, o, ops)
      val metrics =
        if (trace) PerLayer.map { case (n, u) => (n, layers.getOrElse(n, 0.0), u) }
        else e2e
      val correct = ops.failed == 0 && metrics.forall(m => !m._2.isNaN && !m._2.isInfinite)
      val env = Seq(
        "workload" -> str(workload), "seed" -> seed.toString, "seconds" -> seconds.toString,
        "trace" -> trace.toString, "nproc" -> cpus.toString,
        "default_parallelism" -> spark.sparkContext.defaultParallelism.toString,
        "loadavg_at_entry" -> loadAtEntry.map(num).mkString("[", ",", "]"),
        "xmx_mb" -> (Runtime.getRuntime.maxMemory / (1024 * 1024)).toString,
        "cpu_steal_pct" -> {
          val (s1, t1) = cpuJiffies()
          num(100.0 * (s1 - jiffiesAtEntry._1) / math.max(t1 - jiffiesAtEntry._2, 1L))
        }) ++ o.facts
      def obj(ms: Seq[(String, Double, String)]) = ms.map { case (n, v, u) =>
        s"${str(n)}:{\"value\":${num(v)},\"unit\":${str(u)}}"
      }.mkString("{", ",", "}")
      val recordJson =
        s"""{"env":${env.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")},""" +
          s""""correct":$correct,"attempted":${ops.attempted},"failed":${ops.failed},""" +
          s""""failures":${ops.failures.map(str).mkString("[", ",", "]")},""" +
          s""""end_to_end":${obj(e2e)},""" +
          s""""per_layer":${obj(PerLayer.map { case (n, u) => (n, layers.getOrElse(n, 0.0), u) })}""" +
          (if (trace) s""","layers":${view.layersJson},"spans":${view.spansJson}""" else "") + "}"
      JFiles.write(Paths.get(record), recordJson.getBytes(StandardCharsets.UTF_8))
      out ++= s"""{"correct":$correct,"attempted":${ops.attempted},"failed":${ops.failed},""" +
        s""""metrics":${obj(metrics)}}"""
    } finally spark.stop()
    println(out.toString)
  }
}
