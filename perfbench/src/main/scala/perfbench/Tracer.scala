package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

import scala.collection.mutable

/** Spans around the benchmark's calls into each layer's public function,
  * plus a `SparkListener` that attributes every Spark job to the span
  * during which the job started (innermost span wins).
  *
  * Attribution is by time, not by job-group tags: the benchmark calls
  * stages one after another, while pin threads on the global execution
  * context do not inherit local properties, so tags would miss their jobs.
  *
  * Spans stay in memory and are written once, at the end of the run.
  * A disabled tracer runs each body directly and registers no listener.
  */
final class Tracer(val enabled: Boolean) {
  import Tracer._

  /** The unit of work the next spans belong to: pass or batch number
    * (>= 0), a set-up repetition (-1, -2, ...) or a warm-up ([[Warmup]]).
    */
  @volatile var unit: Int = Warmup

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private val jobs = mutable.ArrayBuffer.empty[Job]

  /** Registers a listener on this session's context (a run may start
    * several sessions; job ids restart in each).
    */
  def attach(spark: SparkSession): Unit = if (enabled) {
    val byId = mutable.HashMap.empty[Int, Job]
    val stageJob = mutable.HashMap.empty[Int, Job]
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
        val j = new Job(e.time)
        byId(e.jobId) = j
        jobs += j
        e.stageIds.foreach(s => stageJob(s) = j)
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
        byId.get(e.jobId).foreach(_.endMs = e.time)
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
        val m = e.taskMetrics
        if (m != null) stageJob.get(e.stageId).foreach { j =>
          j.c("tasks") += 1
          j.c("task_s") += m.executorRunTime / 1e3
          j.c("gc_s") += m.jvmGCTime / 1e3
          j.c("input_bytes") += m.inputMetrics.bytesRead
          j.c("shuffle_write_bytes") += m.shuffleWriteMetrics.bytesWritten
          j.c("spill_bytes") += m.diskBytesSpilled
          j.c("output_bytes") += m.outputMetrics.bytesWritten
        }
      }
    })
  }

  /** Runs `body` inside a span named `name`; the enclosing open span is
    * its parent (`setup`, `pass` and `loop` spans group the layer spans).
    */
  def apply[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = new Span(spans.size, name, stack.headOption.map(_.id).getOrElse(-1),
        unit, System.currentTimeMillis(), System.nanoTime())
      spans += s
      stack = s :: stack
      try body
      finally {
        s.endNs = System.nanoTime()
        s.endMs = System.currentTimeMillis()
        stack = stack.tail
      }
    }

  /** Adds a count to the innermost open span. */
  def note(key: String, v: Double): Unit =
    if (enabled) stack.headOption.foreach(s => s.extra(key) = s.extra.getOrElse(key, 0.0) + v)

  /** Adds a count to the most recent span named `name`. */
  def noteLast(name: String, key: String, v: Double): Unit =
    if (enabled) spans.reverseIterator.find(_.name == name).foreach { s =>
      s.extra(key) = s.extra.getOrElse(key, 0.0) + v
    }

  /** Per-layer metrics: for each layer span, the median over measured
    * units of the per-unit sums (0 when a unit has no such span). Set-up
    * only spans take the median over set-up repetitions instead.
    * Also returns the trace record (every span, with its job counters).
    */
  def finish(spark: SparkSession, runId: String): (Seq[(String, Double)], String) = {
    org.apache.spark.ListenerDrain(spark.sparkContext)
    synchronized {
      val byJob = jobs.toSeq.map { j =>
        (j, spans.filter(s => s.startMs <= j.startMs && j.startMs <= s.endMs).maxByOption(_.startNs))
      }
      val intervals = jobs.toSeq.map(j => (j.startMs, if (j.endMs < 0) j.startMs else j.endMs))
      spans.foreach { s =>
        val mine = byJob.collect { case (j, Some(o)) if o.id == s.id => j }
        s.counters("jobs") = mine.size.toDouble
        Counters.foreach(k => s.counters(k) = mine.map(_.c(k)).sum)
        val wallS = (s.endNs - s.startNs) / 1e9
        s.counters("wall_s") = wallS
        s.counters("driver_s") = math.max(0.0, wallS - busyMs(s, intervals) / 1e3)
      }
      val measuredUnits = spans.map(_.unit).filter(_ >= 0).distinct.sorted
      val setupUnits = spans.map(_.unit).filter(u => u < 0 && u != Warmup).distinct.sorted
      val perLayer = Layers.flatMap { layer =>
        val units = if (SetupOnly(layer)) setupUnits else measuredUnits
        val perUnit: Seq[mutable.Map[String, Double]] = units.toSeq.map { u =>
          val ss = spans.filter(s => s.name == layer && s.unit == u)
          val sum = mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0)
          ss.foreach { s =>
            s.counters.foreach { case (k, v) => sum(k) += v }
            s.extra.foreach { case (k, v) => sum(k) += v }
          }
          if (sum.contains("offered_bytes"))
            sum("write_amp") = sum("output_bytes") / math.max(1.0, sum("offered_bytes"))
          sum
        }
        metricsOf(layer).map(m => s"$layer.$m" -> median(perUnit.map(_.getOrElse(m, 0.0)).toSeq))
      }
      val unattributed = byJob.count(_._2.isEmpty)
      val record = Json.obj(
        "run_id" -> Json.str(runId),
        "unattributed_jobs" -> unattributed.toString,
        "per_layer" -> Json.obj(perLayer.map { case (k, v) => k -> Json.num(v) }: _*),
        "spans" -> Json.arr(spans.toSeq.map { s =>
          Json.obj((Seq(
            "id" -> s.id.toString, "name" -> Json.str(s.name),
            "parent" -> s.parent.toString, "unit" -> s.unit.toString,
            "run_id" -> Json.str(runId),
            "start_ms" -> s.startMs.toString, "end_ms" -> s.endMs.toString) ++
            (s.counters ++ s.extra).toSeq.map { case (k, v) => k -> Json.num(v) }): _*)
        }))
      (perLayer, record)
    }
  }

  /** Per-unit values of one counter of one span, in unit order. */
  def perUnit(name: String, counter: String): Seq[Double] = synchronized {
    spans.map(_.unit).filter(_ >= 0).distinct.sorted.map { u =>
      spans.filter(s => s.name == name && s.unit == u).map(_.counters.getOrElse(counter, 0.0)).sum
    }.toSeq
  }

  /** Milliseconds of span `s` during which at least one job was running. */
  private def busyMs(s: Span, intervals: Seq[(Long, Long)]): Double = {
    val clipped = intervals
      .map { case (a, b) => (math.max(a, s.startMs), math.min(b, s.endMs)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var busy = 0L; var curA = -1L; var curB = -1L
    clipped.foreach { case (a, b) =>
      if (a > curB) { busy += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    (busy + curB - curA).toDouble
  }
}

object Tracer {
  val Warmup: Int = -1000

  final class Span(val id: Int, val name: String, val parent: Int, val unit: Int,
      val startMs: Long, val startNs: Long) {
    var endMs: Long = startMs
    var endNs: Long = startNs
    val counters = mutable.LinkedHashMap.empty[String, Double]
    val extra = mutable.LinkedHashMap.empty[String, Double]
  }

  final class Job(val startMs: Long) {
    var endMs: Long = -1L
    val c = mutable.HashMap.empty[String, Double].withDefaultValue(0.0)
  }

  val Counters: Seq[String] = Seq("tasks", "task_s", "gc_s", "input_bytes",
    "shuffle_write_bytes", "spill_bytes", "output_bytes")

  val Base: Seq[String] = Seq("wall_s", "driver_s", "jobs") ++ Counters

  val Batch = "EventStreams.curationIntake.batch"
  val Wire = "EventStreams.curationIntake.wire"

  val Layers: Seq[String] = Seq("Tables.readCsv", "Split.splitV2",
    "Popularity.topMovies", "Recommend.train", "Artifacts.loadOrFitAls",
    "Recommend.recommendTopK", "Eval", Wire, Batch)

  private val SetupOnly = Set(Wire)

  def metricsOf(layer: String): Seq[String] = Base ++ (layer match {
    case Batch => Seq("addBatch_ms", "queryPlanning_ms", "walCommit_ms",
      "state_rows", "state_bytes", "write_amp")
    case "Split.splitV2" => Seq("rows")
    case "Recommend.recommendTopK" => Seq("users")
    case "Eval" => Seq("users")
    case _ => Nil
  })

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
}
