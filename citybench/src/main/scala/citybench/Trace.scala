package citybench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** In-memory spans around the benchmark's calls into engine layers, plus a
  * listener that charges every Spark job to the span that was open when it
  * was submitted (the span id rides on a job-local property).
  *
  * Spans nest on the single driver thread: an operation's root span holds
  * one span per layer call. Nothing is recorded while tracing is off; the
  * `span` wrapper then only evaluates its body. */
final class Trace(sc: SparkContext, listen: Boolean) {
  import Trace._

  private val spans = ArrayBuffer.empty[Span]
  private val counters = mutable.LinkedHashMap.empty[(Int, String), Double]
  private var stack: List[Int] = Nil
  private var nextId = 0
  private var op = -1
  var enabled = false

  // wall-clock anchor: listener events carry epoch millis, spans nanoTime
  private val nano0 = System.nanoTime()
  private val epoch0 = System.currentTimeMillis()
  private def epochMs(nano: Long): Double = epoch0 + (nano - nano0) / 1e6

  private val listener = new JobListener
  if (listen) sc.addSparkListener(listener)

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId; nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      sc.setLocalProperty(SpanProp, id.toString)
      val t0 = System.nanoTime()
      try body
      finally {
        spans += Span(id, parent, name, op, t0, System.nanoTime())
        stack = stack.tail
        sc.setLocalProperty(SpanProp, stack.headOption.map(_.toString).orNull)
      }
    }

  /** Run one operation under a root span named `name`. */
  def operation[T](name: String, opId: Int)(body: => T): T = {
    op = opId
    span(name)(body)
  }

  /** A per-layer count or ratio of the current operation. */
  def count(name: String, v: Double): Unit = if (enabled) counters((op, name)) = v

  /** Wait until the listener has seen every event posted so far: the bus
    * delivers in order, so a marker job's end arrives after them all. */
  def drain(): Unit = {
    sc.setLocalProperty(SpanProp, null)
    sc.setLocalProperty(MarkerProp, "1")
    sc.parallelize(Seq(1), 1).count()
    sc.setLocalProperty(MarkerProp, null)
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (!listener.markerSeen && System.nanoTime() < deadline) Thread.sleep(5)
    listener.markerSeen = false
  }

  /** Per-operation layer metrics: for each traced op, the span measures
    * (self_ms, driver_ms, jobs, task_s, shuffle_mb) summed by span name,
    * the counters, and whole-op figures. */
  def rollup(): Seq[Map[String, Double]] = {
    drain()
    val jobs = listener.jobs.values().asScala.toSeq.filter(_.end > 0)
      .map(j => (j.start.toDouble, j.end.toDouble)).sortBy(_._1)
    val busy = merge(jobs)
    val byOp = spans.groupBy(_.op)
    byOp.keys.toSeq.sorted.map { o =>
      val ss = byOp(o)
      val children = ss.groupBy(_.parent)
      val m = mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0)
      var rootSelf = 0.0; var rootWall = 0.0
      ss.foreach { s =>
        val kids = children.getOrElse(s.id, Nil).map(c => (epochMs(c.t0), epochMs(c.t1))).toSeq
        val self = subtract(Seq((epochMs(s.t0), epochMs(s.t1))), merge(kids.sortBy(_._1)))
        val selfMs = self.map(i => i._2 - i._1).sum
        val driverMs = subtract(self, busy).map(i => i._2 - i._1).sum
        if (s.parent < 0) { rootSelf = selfMs; rootWall = (s.t1 - s.t0) / 1e6 }
        else {
          val js = listener.jobs.values().asScala.filter(_.span == s.id)
          val stages = js.flatMap(_.stages).toSet
          val tasks = stages.toSeq.flatMap(st => Option(listener.stages.get(st)))
          m(s"${s.name}.self_ms") += selfMs
          m(s"${s.name}.driver_ms") += driverMs
          m(s"${s.name}.jobs") += js.size
          m(s"${s.name}.task_s") += tasks.map(_.runMs).sum / 1e3
          m(s"${s.name}.shuffle_mb") += tasks.map(_.shuffleBytes).sum / MB
        }
      }
      val opStages = listener.jobs.values().asScala
        .filter(j => ss.exists(_.id == j.span)).flatMap(_.stages).toSet
      m("spark.spill_mb") = opStages.toSeq.flatMap(st => Option(listener.stages.get(st)))
        .map(_.spillBytes).sum / MB
      m("trace.root_self_frac") = if (rootWall > 0) rootSelf / rootWall else 0.0
      counters.foreach { case ((co, k), v) => if (co == o) m(k) = v }
      m.toMap
    }
  }

  /** Spans as JSON lines (name, start/end in ms since the trace began,
    * parent and operation id), then one line per traced operation with its
    * rolled-up layer metrics. */
  def dump(path: java.nio.file.Path, perOp: Seq[Map[String, Double]]): Unit = {
    val lines = spans.sortBy(_.t0).map { s =>
      f"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"name":"${s.name}",""" +
        f""""start_ms":${(s.t0 - nano0) / 1e6}%.3f,"end_ms":${(s.t1 - nano0) / 1e6}%.3f}"""
    } ++ perOp.map(m => m.toSeq.sortBy(_._1).map { case (k, v) => s""""$k":$v""" }
      .mkString("""{"rollup":{""", ",", "}}"))
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.asJava)
  }

  def close(): Unit = if (listen) sc.removeSparkListener(listener)

  private final class JobListener extends SparkListener {
    val jobs = new ConcurrentHashMap[Int, JobRec]()
    val stages = new ConcurrentHashMap[Int, StageRec]()
    @volatile var markerSeen = false
    private val markers = ConcurrentHashMap.newKeySet[Int]()

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = Option(e.properties)
      if (p.exists(_.getProperty(MarkerProp) != null)) markers.add(e.jobId)
      else {
        val span = p.flatMap(x => Option(x.getProperty(SpanProp))).map(_.toInt).getOrElse(-1)
        // a stage shared by several jobs runs once: charge it to the first
        val fresh = e.stageIds.filter(st => stages.putIfAbsent(st, new StageRec) == null)
        jobs.put(e.jobId, JobRec(span, e.time, fresh))
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      if (markers.remove(e.jobId)) markerSeen = true
      else Option(jobs.get(e.jobId)).foreach(_.end = e.time)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stages.get(e.stageId)).zip(Option(e.taskMetrics)).foreach { case (s, tm) =>
        s.synchronized {
          s.runMs += tm.executorRunTime
          s.shuffleBytes += tm.shuffleWriteMetrics.bytesWritten
          s.spillBytes += tm.memoryBytesSpilled + tm.diskBytesSpilled
        }
      }
  }
}

object Trace {
  val SpanProp = "citybench.span"
  val MarkerProp = "citybench.marker"
  val MB = 1024.0 * 1024.0

  final case class Span(id: Int, parent: Int, name: String, op: Int, t0: Long, t1: Long)
  final case class JobRec(span: Int, start: Long, stages: Seq[Int]) { @volatile var end = 0L }
  final class StageRec { var runMs = 0L; var shuffleBytes = 0L; var spillBytes = 0L }

  /** Union of sorted intervals. */
  def merge(xs: Seq[(Double, Double)]): Seq[(Double, Double)] =
    xs.foldLeft(List.empty[(Double, Double)]) {
      case ((a, b) :: rest, (c, d)) if c <= b => (a, math.max(b, d)) :: rest
      case (acc, iv) => iv :: acc
    }.reverse

  /** `xs` minus the union `cut` (both sorted, `cut` disjoint). */
  def subtract(xs: Seq[(Double, Double)], cut: Seq[(Double, Double)]): Seq[(Double, Double)] =
    xs.flatMap { case (a, b) =>
      val out = ArrayBuffer.empty[(Double, Double)]
      var lo = a
      cut.iterator.filter(c => c._2 > a && c._1 < b).foreach { case (c, d) =>
        if (c > lo) out += ((lo, c))
        lo = math.max(lo, d)
      }
      if (lo < b) out += ((lo, b))
      out
    }
}
