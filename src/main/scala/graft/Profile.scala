package graft

import org.apache.spark.scheduler._

import scala.collection.mutable

/** Per-query empirical profiler (optimization-guide §1: measure first).
  *
  * For each query name on the command line: run the noop-sink action
  * `SPARK_GRAFT_RUNS` times (default 3), print every run's time, job
  * count and plan gap, then the LAST run's per-job / per-stage breakdown
  * from a SparkListener — job wall-clock, stage task counts, task-time
  * sums, shuffle read/write bytes — so "where does this query's second
  * go" is answered from measurements instead of plan guesses. Jobs are
  * counted per run (`jobs/run`), because a query that launches 15 jobs
  * at sf0.1 is paying the scheduling floor 15 times regardless of data
  * size.
  *
  * Diagnostic tool only: never run by the driver, not part of Bench's
  * contract. Its session and warm-up are Bench's ([[Harness]],
  * [[Bench.touchTables]]) so numbers are comparable with headline lines.
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = Harness.sfDir("/root/testdata/sf0.1")
    val spark = Harness.session()

    case class StageRec(name: String, tasks: Int, taskTimeMs: Long,
        shufReadB: Long, shufWriteB: Long, inputB: Long)
    case class JobRec(desc: String, submitted: Long, var completed: Long,
        stages: mutable.Buffer[Int])
    val jobs = mutable.LinkedHashMap[Int, JobRec]()
    val stages = mutable.LinkedHashMap[Int, StageRec]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val d = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse("")
        jobs(e.jobId) = JobRec(d, e.time, -1, e.stageIds.toBuffer)
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        jobs.get(e.jobId).foreach(_.completed = e.time)
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val si = e.stageInfo
        val m = si.taskMetrics
        stages(si.stageId) = StageRec(si.name.takeWhile(_ != '\n'),
          si.numTasks,
          if (m == null) 0L else m.executorRunTime,
          if (m == null) 0L else m.shuffleReadMetrics.totalBytesRead,
          if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten,
          if (m == null) 0L else m.inputMetrics.bytesRead)
      }
    }
    spark.sparkContext.addSparkListener(listener)
    Bench.touchTables(spark, sfDir)

    for (name <- args) {
      val fn = SparkEntry.queries(name)
      println(s"===== $name =====")
      var jobsPerRun = List.empty[Int]
      var gapPerRun = List.empty[Long] // ms from action start to 1st job
      val times = Harness.timings(s"  $name", Harness.runs) {
        jobs.clear(); stages.clear()
        val wall0 = System.currentTimeMillis()
        try Harness.noop(fn(spark, sfDir))
        finally {
          jobsPerRun = jobs.size :: jobsPerRun
          gapPerRun = jobs.values.headOption
            .map(_.submitted - wall0).getOrElse(-1L) :: gapPerRun
        }
      }
      println(f"  runs: ${times.map(t => f"$t%.2f").mkString(" ")} s;" +
        s" jobs/run: ${jobsPerRun.reverse.mkString(" ")};" +
        s" planGap(ms): ${gapPerRun.reverse.mkString(" ")}")
      // last run's breakdown
      val t0 = jobs.values.headOption.map(_.submitted).getOrElse(0L)
      jobs.foreach { case (id, j) =>
        val wall = if (j.completed < 0) -1 else j.completed - j.submitted
        val srcStages = j.stages.flatMap(stages.get)
        val tt = srcStages.map(_.taskTimeMs).sum
        val nt = srcStages.map(_.tasks).sum
        val sr = srcStages.map(_.shufReadB).sum
        val sw = srcStages.map(_.shufWriteB).sum
        val in = srcStages.map(_.inputB).sum
        println(f"  job $id%3d +${j.submitted - t0}%6d ms wall=$wall%5d ms " +
          f"stages=${j.stages.size}%2d tasks=$nt%4d taskTime=$tt%6d ms " +
          f"shufR=${sr / 1024}%7d KB shufW=${sw / 1024}%7d KB " +
          f"in=${in / 1024}%8d KB  ${j.desc.take(60)}")
      }
    }
    spark.stop()
  }
}
