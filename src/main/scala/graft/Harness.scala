package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one harness behind the hand-run mains (Bench, Verify, Explain,
  * Profile, Soak, IntakeSoak): the local session, the noop-sink action,
  * the median-of-N timer and the env knobs they share.
  *
  * Knobs: `SPARK_GRAFT_CPUS` (local threads = shuffle partitions,
  * default the cores the JVM sees), `SPARK_GRAFT_SF_DIR` (fixture dir),
  * `SPARK_GRAFT_RUNS` (timed runs per line, default 3) and
  * `SPARK_GRAFT_ONLY=a,b,c` (restrict Bench's headline lines or Soak's
  * families to those names — an iteration aid; unset keeps them all).
  */
object Harness {

  val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  val runs: Int = sys.env.getOrElse("SPARK_GRAFT_RUNS", "3").toInt

  val only: Option[Set[String]] = sys.env.get("SPARK_GRAFT_ONLY")
    .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)

  def sfDir(default: String): String =
    sys.env.getOrElse("SPARK_GRAFT_SF_DIR", default)

  /** `local[cpus]`, shuffle partitions = cpus, UTC, AQE on, UI off, log
    * level ERROR (keeps stdout clean for the mains' JSON-line output).
    * `nanosAsLong` lets the nanosecond `events.ts` fixture scan at all
    * (see [[Tables.events]]).
    */
  def session(): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Materializes every output row and column — unlike `.count()`, which
    * lets Catalyst collapse the plan and skip column reads.
    */
  def noop(df: DataFrame): Unit =
    df.write.mode("overwrite").format("noop").save()

  /** The upper median; -1 for no readings (every run failed). */
  def median(secs: Seq[Double]): Double =
    if (secs.isEmpty) -1.0 else secs.sorted.apply(secs.length / 2)

  /** Seconds of each of `n` runs of `thunk` that succeeded; a failed run
    * is logged to stderr as `<label> failed: <message>` and dropped.
    */
  def timings(label: String, n: Int)(thunk: => Unit): Seq[Double] =
    (1 to n).flatMap { _ =>
      val t0 = System.nanoTime()
      try { thunk; Some((System.nanoTime() - t0) / 1e9) }
      catch { case e: Throwable =>
        System.err.println(s"$label failed: ${e.getMessage}"); None
      }
    }

  /** Median-of-`n` seconds of `thunk`, or -1 when every run fails. */
  def timeMedian(label: String, n: Int)(thunk: => Unit): Double =
    median(timings(label, n)(thunk))
}
