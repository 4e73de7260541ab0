package graft.perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.DataFrame

/** One traced public call: `parent` is the enclosing span (-1 for a
  * root), `req` the request or pass it belongs to. Times are
  * System.nanoTime readings. */
final case class Span(id: Int, parent: Int, name: String, req: Long, t0: Long, t1: Long) {
  def seconds: Double = (t1 - t0) / 1e9
}

/** Spark listener counters of the jobs one span ran while innermost. */
final class Counters {
  var jobs = 0L
  var stages = 0L
  var singleTaskStages = 0L
  var cpuNs = 0L
  var inputRows = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  def add(o: Counters): Unit = {
    jobs += o.jobs; stages += o.stages; singleTaskStages += o.singleTaskStages
    cpuNs += o.cpuNs; inputRows += o.inputRows; shuffleBytes += o.shuffleBytes
    spillBytes += o.spillBytes
  }
  def json: String =
    s"""{"jobs":$jobs,"stages":$stages,"single_task_stages":$singleTaskStages,""" +
      s""""cpu_s":${cpuNs / 1e9},"input_rows":$inputRows,""" +
      s""""shuffle_mb":${shuffleBytes / 1e6},"spill_mb":${spillBytes / 1e6}}"""
}

/** Per-job-group listener: attributes every job and stage to the span
  * whose job group was set when it was submitted. */
private final class GroupListener extends SparkListener {
  val byGroup = new ConcurrentHashMap[String, Counters]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private def group(props: java.util.Properties): Option[String] =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .filter(_.startsWith(Tracer.GroupPrefix))
  private def counters(g: String): Counters = byGroup.computeIfAbsent(g, _ => new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit =
    group(e.properties).foreach(g => counters(g).synchronized { counters(g).jobs += 1 })

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    group(e.properties).foreach(g => stageGroup.put(e.stageInfo.stageId, g))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageGroup.remove(e.stageInfo.stageId)).foreach { g =>
      val si = e.stageInfo
      val m = si.taskMetrics
      val c = counters(g)
      c.synchronized {
        c.stages += 1
        if (si.numTasks == 1) c.singleTaskStages += 1
        if (m != null) {
          c.cpuNs += m.executorCpuTime
          c.inputRows += m.inputMetrics.recordsRead
          c.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
          c.spillBytes += m.diskBytesSpilled
        }
      }
    }
}

/** In-memory span recorder. Off: every method just runs its body, so
  * the untraced run pays nothing. On: each span sets its own Spark job
  * group, so the listener can attribute jobs, stages, CPU, rows,
  * shuffle and spill to it; spans are written out once, at exit. */
final class Tracer(sc: SparkContext, val on: Boolean) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  /** Open spans, innermost first: (id, request). */
  private var stack: List[(Int, Long)] = Nil
  private var nextId = 0
  /** Suspends recording (the untraced half of an overhead pair). */
  var paused = false
  private val listener = if (on) Some(new GroupListener) else None
  listener.foreach(sc.addSparkListener)

  private def active: Boolean = on && !paused

  def span[T](name: String, req: Long = -1L)(body: => T): T =
    if (!active) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.map(_._1).getOrElse(-1)
      val r = if (req >= 0) req else stack.headOption.map(_._2).getOrElse(req)
      stack = (id, r) :: stack
      sc.setJobGroup(Tracer.GroupPrefix + id, name, interruptOnCancel = false)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack = stack.tail
        stack.headOption match {
          case Some((p, _)) => sc.setJobGroup(Tracer.GroupPrefix + p, name, interruptOnCancel = false)
          case None => sc.clearJobGroup()
        }
        spans += Span(id, parent, name, r, t0, t1)
      }
    }

  /** A query call: `build` constructs the DataFrame (the span's self
    * time), then — traced — its physical plan is forced in a `.plan`
    * child before `run` executes it in an `.exec` child. */
  def query[T](name: String)(build: => DataFrame)(run: DataFrame => T): T =
    span(name) {
      val df = build
      if (active) {
        span(name + ".plan")(df.queryExecution.executedPlan)
        span(name + ".exec")(run(df))
      } else run(df)
    }

  /** Finished spans, once the listener bus has drained. */
  def finish(): TraceView = {
    listener.foreach { _ =>
      org.apache.spark.GraftListenerBridge.waitUntilListenerBusEmpty(sc, 60000L)
    }
    new TraceView(spans.toVector,
      listener.map(_.byGroup.asScala.toMap).getOrElse(Map.empty))
  }
}

object Tracer {
  val GroupPrefix = "perfbench-span-"
}

/** Queries over the recorded spans: self time, inclusive counters, and
  * per-layer aggregates. */
final class TraceView(val spans: Vector[Span], byGroup: Map[String, Counters]) {
  private val children: Map[Int, Vector[Span]] = spans.groupBy(_.parent)
  private val byId: Map[Int, Span] = spans.map(s => s.id -> s).toMap

  def own(s: Span): Counters = byGroup.getOrElse(Tracer.GroupPrefix + s.id, new Counters)

  /** Counters of the span and everything beneath it. */
  def inclusive(s: Span): Counters = {
    val c = new Counters
    c.add(own(s))
    children.getOrElse(s.id, Vector.empty).foreach(ch => c.add(inclusive(ch)))
    c
  }

  /** The span's duration minus the part of it its children cover. */
  def selfSeconds(s: Span): Double = {
    val kids = children.getOrElse(s.id, Vector.empty).map(k => (k.t0, k.t1)).sortBy(_._1)
    var covered = 0L
    var end = s.t0
    kids.foreach { case (a, b) =>
      val lo = math.max(a, end)
      if (b > lo) { covered += b - lo; end = b }
    }
    (s.t1 - s.t0 - covered) / 1e9
  }

  def named(name: String): Vector[Span] = spans.filter(_.name == name)

  /** The root span enclosing `s`. */
  def root(s: Span): Span = if (s.parent < 0) s else root(byId(s.parent))

  /** Per-unit sums of `f` over spans called `layer`, where a unit is a
    * root span called `unit` (a pass or a set-up); the median over
    * units, 0 when the layer never ran. */
  def perUnit(layer: String, unit: String)(f: Span => Double): Double = {
    val units = spans.filter(s => s.parent < 0 && s.name == unit)
    if (units.isEmpty) 0.0
    else {
      val sums = units.map(u => named(layer).filter(s => root(s).id == u.id).map(f).sum)
      Stats.median(sums)
    }
  }

  /** Median of `f` over the spans called `name`; 0 when none ran. */
  def perCall(name: String)(f: Span => Double): Double = {
    val xs = named(name).map(f)
    if (xs.isEmpty) 0.0 else Stats.median(xs)
  }

  /** Layer table: for every span name, calls, total and self seconds,
    * and inclusive counters. */
  def layersJson: String = spans.groupBy(_.name).toSeq.sortBy(_._1).map { case (n, ss) =>
    val c = new Counters
    ss.foreach(s => c.add(inclusive(s)))
    f""""$n":{"calls":${ss.size},"total_s":${ss.map(_.seconds).sum}%.6f,""" +
      f""""self_s":${ss.map(selfSeconds).sum}%.6f,"counters":${c.json}}"""
  }.mkString("{", ",", "}")

  def spansJson: String = spans.map { s =>
    s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}","req":${s.req},""" +
      s""""start_ns":${s.t0},"end_ns":${s.t1},"self_s":${selfSeconds(s)},""" +
      s""""counters":${own(s).json}}"""
  }.mkString("[", ",\n", "]")
}
