package perfbench

import java.lang.management.ManagementFactory

import org.apache.spark.sql.SparkSession

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** End-to-end benchmark of the reference recommender flow and the
  * streaming curation intake, in one `local[nproc]` process.
  *
  * {{{
  * perfbench.Main --workload recsys_flow|recsys_rescore|curation_intake|all|selftest
  *   --seed N --seconds S --trace 0|1 --out WORKDIR [--trace-file PATH] [--scale full|small]
  * }}}
  *
  * Prints every end-to-end metric of the workload as `metric <name> <value>
  * <unit> <better>` lines, the failed checks as `check <name> FAILED`, and,
  * last, one JSON object: with `--trace 0` the benchmark's end-to-end
  * metrics, with `--trace 1` every per-layer metric.
  */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
      out: String, traceFile: Option[String], scale: String)

  final case class Metric(value: Double, unit: String, better: String)

  /** A workload's result: units of work attempted and failed, the names of
    * the checks that failed, every end-to-end metric, and notes (findings that
    * are reported without counting as failures, and details).
    */
  final case class Outcome(attempted: Int, failed: Int, failures: Seq[String],
      table: mutable.LinkedHashMap[String, Metric], notes: Seq[String])

  val Workloads: Seq[String] = Seq("recsys_flow", "recsys_rescore", "curation_intake")

  /** The end-to-end metrics the result line carries (`--trace 0`). */
  val Reported: Seq[String] = Seq("setup_s", "pass_s", "live_heap_mb")

  /** Set-up repetitions per run; `setup_s` is their median. The flow's
    * set-up (a session and a CSV) is short, so it repeats more often.
    */
  val SetupReps = 3
  val FlowSetupReps = 5

  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** CPU time of the whole JVM (every thread), in nanoseconds. */
  def cpuNs(): Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  /** Old-generation usage right after a full collection, in MB. Collects
    * three times, 200 ms apart, so objects that Spark's context cleaner
    * releases after the first collection are gone by the last reading.
    */
  def liveHeapMb(): Double = {
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(200) }
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.isCollectionUsageThresholdSupported && p.getName.contains("Old"))
      .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed / 1048576.0)
      .maxOption.getOrElse(0.0)
  }

  def parse(argv: Array[String]): Args = {
    val m = argv.sliding(2, 2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    Args(m.getOrElse("workload", ""), m.getOrElse("seed", "1").toLong,
      m.getOrElse("seconds", "10").toInt, m.getOrElse("trace", "0") == "1",
      m("out"), m.get("trace-file"), m.getOrElse("scale", "full"))
  }

  /** A new session with the settings of the engine's own entry points;
    * the active session, if any, is stopped first. Set-up starts one per
    * repetition, so `setup_s` includes session start.
    */
  def session(out: String, tr: Tracer): SparkSession = {
    SparkSession.getActiveSession.foreach(_.stop())
    val nproc = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$nproc]")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$out/spark-local")
      .config("spark.sql.warehouse.dir", s"$out/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    tr.attach(spark)
    spark
  }

  def runWorkload(tr: Tracer, a: Args): Outcome = {
    val newSession = () => session(a.out, tr)
    a.workload match {
      case "recsys_flow" => Recsys.run(newSession, tr, a, fit = true)
      case "recsys_rescore" => Recsys.run(newSession, tr, a, fit = false)
      case "curation_intake" => Intake.run(newSession, tr, a)
      case w => throw new IllegalArgumentException(s"unknown workload '$w'")
    }
  }

  /** The human-readable lines for an outcome. */
  def report(o: Outcome): Seq[String] =
    o.failures.map(f => s"check $f FAILED") ++ o.notes ++
      o.table.toSeq.map { case (n, m) => s"metric $n ${Json.num(m.value)} ${m.unit} ${m.better}" }

  def resultLine(o: Outcome, metrics: Seq[(String, String)]): String =
    Json.obj("correct" -> (o.failed == 0 && o.failures.isEmpty).toString,
      "attempted" -> o.attempted.toString, "failed" -> o.failed.toString,
      "metrics" -> Json.obj(metrics: _*))

  def metricJson(value: Double, unit: String): String =
    Json.obj("value" -> Json.num(value), "unit" -> Json.str(unit))

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    if (a.workload == "selftest") sys.exit(SelfTest.run(a))
    if (a.workload == "all") sys.exit(runAll(a))
    require(Workloads.contains(a.workload), s"unknown workload '${a.workload}'")
    val tr = new Tracer(a.trace)
    val o = runWorkload(tr, a)
    val spark = SparkSession.active
    val nproc = Runtime.getRuntime.availableProcessors
    println(s"run workload=${a.workload} seed=${a.seed} seconds=${a.seconds} trace=${if (a.trace) 1 else 0}" +
      s" nproc=$nproc heap_max_mb=${Runtime.getRuntime.maxMemory / 1048576} spark=${spark.version}")
    report(o).foreach(println)
    val metrics =
      if (a.trace) {
        val runId = s"${a.workload}-seed${a.seed}-${System.currentTimeMillis()}"
        val (perLayer, record) = tr.finish(spark, runId)
        a.traceFile.foreach { f =>
          val e2e = Json.obj(o.table.toSeq.map { case (n, m) => n -> Json.num(m.value) }: _*)
          java.nio.file.Files.write(java.nio.file.Paths.get(f),
            Json.obj("workload" -> Json.str(a.workload), "seed" -> a.seed.toString,
              "nproc" -> nproc.toString, "end_to_end" -> e2e, "trace" -> record)
              .getBytes("UTF-8"))
        }
        if (a.workload.startsWith("recsys"))
          println(s"trace Recommend.train.jobs per pass: ${tr.perUnit("Recommend.train", "jobs").mkString(" ")}")
        perLayer.map { case (n, v) => n -> metricJson(v, unitOf(n)) }
      } else Reported.map(n => n -> metricJson(o.table(n).value, o.table(n).unit))
    spark.stop()
    println(resultLine(o, metrics))
  }

  /** Every workload in one process, one after another, untraced. The
    * result line names each metric `<workload>.<metric>`.
    */
  def runAll(a: Args): Int = {
    val outcomes = Workloads.map { w =>
      val o = runWorkload(new Tracer(false), a.copy(workload = w, out = s"${a.out}/$w"))
      println(s"run workload=$w seed=${a.seed} seconds=${a.seconds}")
      report(o).foreach(println)
      w -> o
    }
    SparkSession.active.stop()
    val all = Outcome(outcomes.map(_._2.attempted).sum, outcomes.map(_._2.failed).sum,
      outcomes.flatMap { case (w, o) => o.failures.map(f => s"$w: $f") },
      mutable.LinkedHashMap.empty, Nil)
    println(resultLine(all, outcomes.flatMap { case (w, o) =>
      o.table.toSeq.map { case (n, m) => s"$w.$n" -> metricJson(m.value, m.unit) } }))
    0
  }

  /** Unit of a per-layer metric, from its suffix. */
  def unitOf(name: String): String = name.substring(name.lastIndexOf('.') + 1) match {
    case m if m.endsWith("_s") => "s"
    case m if m.endsWith("_ms") => "ms"
    case m if m.endsWith("_bytes") => "bytes"
    case "write_amp" => "ratio"
    case _ => "count"
  }
}
