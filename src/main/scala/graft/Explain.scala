package graft
/** Formatted physical plans of the named queries at SPARK_GRAFT_SF_DIR
  * (default sf0.01). */
object Explain {
  def main(args: Array[String]): Unit = {
    val spark = Harness.session()
    val d = Harness.sfDir("/root/testdata/sf0.01")
    // SPARK_GRAFT_EXPLAIN_EXEC=1: execute first and print the FINAL
    // adaptive plan (exchange reuse / runtime BHJ conversions are only
    // visible post-execution — the ScalePostureSpec discipline)
    val exec = sys.env.get("SPARK_GRAFT_EXPLAIN_EXEC").contains("1")
    for (name <- args) {
      println(s"===== $name =====")
      val df = SparkEntry.queries(name)(spark, d)
      if (exec) {
        // collect(), not write(): write makes a FRESH QueryExecution and
        // the final adaptive plan would be lost (round-4 trap)
        val t0 = System.nanoTime()
        val n = df.collect().length
        println(f"[exec ${(System.nanoTime() - t0) / 1e9}%.2f s, $n rows]")
        println(df.queryExecution.executedPlan.toString.split("Initial Plan")(0))
      } else {
        println(df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode))
      }
    }
    spark.stop()
  }
}
