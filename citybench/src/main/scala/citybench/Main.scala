package citybench

import java.lang.management.ManagementFactory

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One workload: a set-up that can be repeated, one operation, and the
  * checks on an operation's output. */
trait Workload {
  type Out
  /** Generate the inputs and load them as materialized tables. */
  def prepare(tr: Trace): Unit
  /** Build what the operations read beyond the inputs, and run untimed
    * operations so code generation and JIT are done before timing. */
  def warmup(tr: Trace): Unit
  /** One timed operation. Layer calls are wrapped in `tr.span`. */
  def op(i: Int, tr: Trace): Out
  /** Checks on one operation's output, made outside the timed region;
    * returns the failed checks. Releases what the operation materialized,
    * except operation 0's output, kept for `finalChecks`. */
  def verify(i: Int, out: Out): Seq[String]
  /** The costly checks, made once per run after the timed phase, on
    * operation 0's output; then releases it. */
  def finalChecks(): Seq[String]
  def release(): Unit
}

/** Frames an operation materializes, released together.
  *
  * `force` checkpoints a frame locally (the engine's own `Materialize`
  * idiom): its rows are computed once, and later plans read them without
  * the upstream lineage, so each layer's span holds the planning and jobs
  * of that layer alone. Checkpoints are fresh RDDs, so two operations over
  * the same inputs never share results. */
final class Held {
  private val rdds = ArrayBuffer.empty[org.apache.spark.rdd.RDD[_]]
  /** Materialize `df` and return it with its row count (one action: the
    * count computes and stores the checkpoint). */
  def force(df: DataFrame): (DataFrame, Long) = {
    val c = df.localCheckpoint(eager = false)
    c.queryExecution.logical.foreach {
      case l: org.apache.spark.sql.execution.LogicalRDD => rdds += l.rdd
      case _ =>
    }
    (c, c.count())
  }
  def release(): Unit = { rdds.foreach(_.unpersist(blocking = true)); rdds.clear() }
}

/** The benchmark's command:
  *
  * {{{
  * Main --workload precompute|lookup|curate --seed N --seconds S --trace 0|1 [--size full|tiny] [--out DIR]
  * Main --selftest
  * }}}
  *
  * Set-up (`setup_s`): the Spark session from JVM start, plus the median of
  * three `prepare` runs, plus one `warmup`. The timed phase runs operations
  * back to back, one caller, until `--seconds` have passed (at least one;
  * three in a traced run). With `--trace 1` every second operation is traced
  * and the report holds the per-layer metrics; otherwise it holds the
  * end-to-end ones. The last stdout line is the JSON result; the exit code
  * is nonzero when any check failed. */
object Main {
  val PrepareReps = 3

  def main(args: Array[String]): Unit = {
    if (args.sameElements(Array("--selftest"))) {
      val spark = session()
      val ok = try SelfTest.run(spark) finally spark.stop()
      sys.exit(if (ok) 0 else 1)
    }
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts.getOrElse("workload", usage("--workload is required"))
    val seed = opts.getOrElse("seed", usage("--seed is required")).toLong
    val seconds = opts.getOrElse("seconds", "10").toDouble
    val traced = opts.getOrElse("trace", "0") == "1"
    val sizes = opts.getOrElse("size", "full") match {
      case "full" => Gen.Full
      case "tiny" => Gen.Tiny
      case s => usage(s"unknown --size $s")
    }
    val outDir = java.nio.file.Paths.get(opts.getOrElse("out", "citybench/out"))

    val spark = session()
    val sessionS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val w: Workload = workload match {
      case "precompute" => new Precompute(spark, seed, sizes)
      case "lookup" => new Lookup(spark, seed, sizes)
      case "curate" => new Curate(spark, seed, sizes)
      case other => spark.stop(); usage(s"unknown workload $other")
    }
    val code = try {
      val result = run(spark, w, seconds, traced, sessionS,
        outDir.resolve(s"spans-$workload-$seed.jsonl"))
      println(result._1)
      result._2
    } finally spark.stop()
    sys.exit(code)
  }

  private def usage(msg: String): Nothing = {
    System.err.println(s"citybench: $msg")
    System.err.println("usage: --workload precompute|lookup|curate --seed N --seconds S --trace 0|1")
    sys.exit(2)
  }

  def session(): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors().toString
    val s = graft.GraftSession.builder("citybench", cores).getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted; val n = s.length
    if (n == 0) 0.0 else if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  def log(msg: String): Unit = System.err.println(s"[citybench] $msg")

  /** Returns (result JSON line, exit code). */
  def run(spark: SparkSession, w: Workload, seconds: Double, traced: Boolean,
          sessionS: Double, spanFile: java.nio.file.Path): (String, Int) = {
    val tr = new Trace(spark.sparkContext, listen = traced)
    val prepS = (1 to PrepareReps).map { _ =>
      val t = System.nanoTime(); w.prepare(tr); (System.nanoTime() - t) / 1e9
    }
    val tw = System.nanoTime(); w.warmup(tr)
    val warmS = (System.nanoTime() - tw) / 1e9
    val setupS = sessionS + median(prepS) + warmS
    log(f"setup: session $sessionS%.2f s, prepare ${prepS.map(p => f"$p%.2f").mkString("/")} s, warm-up $warmS%.2f s")

    val walls = ArrayBuffer.empty[Double]
    val tracedWalls = ArrayBuffer.empty[Double]
    val failures = ArrayBuffer.empty[String]
    var attempted = 0; var failed = 0
    val end = System.nanoTime() + (seconds * 1e9).toLong
    var i = 0
    // a traced run brackets each traced operation with untraced ones, so
    // the overhead figure compares neighbours
    while (System.nanoTime() < end || (traced && i < 3)) {
      val on = traced && i % 2 == 1
      tr.enabled = on
      System.gc() // every operation starts from a collected heap
      val g0 = gcMs()
      val t0 = System.nanoTime()
      val out = try Right(tr.operation("op", i)(w.op(i, tr))) catch {
        case e: Exception => Left(s"op $i threw ${e.getClass.getSimpleName}: ${e.getMessage}")
      }
      val ms = (System.nanoTime() - t0) / 1e6
      if (on) { tr.count("spark.gc_ms", (gcMs() - g0).toDouble); tracedWalls += ms } else walls += ms
      tr.enabled = false
      val bad = out.fold(Seq(_), o => w.verify(i, o))
      attempted += 1
      if (bad.nonEmpty) { failed += 1; failures ++= bad }
      i += 1
    }
    // live heap: the least heap in use over three forced full collections
    // (Spark's own threads allocate between them)
    val mem = (1 to 3).map { _ =>
      System.gc(); Thread.sleep(100)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / Trace.MB
    }.min
    val finalBad = w.finalChecks()
    if (finalBad.nonEmpty) { failed = math.min(attempted, failed + 1); failures ++= finalBad }

    failures.distinct.foreach(f => log(s"CHECK FAILED: $f"))
    log(f"ops: $attempted attempted, $failed failed; untraced median ${median(walls.toSeq)}%.1f ms over ${walls.length}: ${walls.map(x => f"$x%.0f").mkString(" ")}")

    val metrics: Seq[(String, Double, String)] =
      if (!traced) {
        Seq(("setup_s", setupS, "s"),
          ("op_p50_ms", median(walls.toSeq), "ms"),
          ("ops_per_s", walls.length / (walls.sum / 1e3), "1/s"),
          ("live_heap_mb", mem, "MB"))
      } else {
        val perOp = tr.rollup()
        tr.dump(spanFile, perOp)
        log(s"spans written to $spanFile")
        val units = Metrics.PerLayer.toMap
        val counters = Metrics.Counters.map(_._1).toSet
        Metrics.PerLayer.map { case (name, unit) =>
          val vs = perOp.map(_.getOrElse(name, 0.0))
          val v = name match {
            case "trace.overhead_frac" =>
              median(tracedWalls.toSeq) / median(walls.toSeq) - 1.0
            case n if counters(n) => if (vs.isEmpty) 0.0 else vs.sum / vs.length
            case _ => median(vs)
          }
          (name, v, units(name))
        }
      }
    tr.close()
    w.release()
    val ms = metrics.map { case (n, v, u) =>
      val x = if (v.isNaN || v.isInfinite) 0.0 else v
      s""""$n": {"value": $x, "unit": "$u"}"""
    }
    val ok = failed == 0
    (s"""{"correct": $ok, "attempted": $attempted, "failed": $failed, "metrics": {${ms.mkString(", ")}}}""",
      if (ok) 0 else 1)
  }
}
