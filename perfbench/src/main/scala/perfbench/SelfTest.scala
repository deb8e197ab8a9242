package perfbench

import graft.operators.{Eval, Recommend}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import scala.collection.mutable

/** Small-size self-test of the benchmark itself:
  *  1. every workload prints each end-to-end metric with its unit;
  *  2. every output check passes on real results;
  *  3. every output check fails on a deliberately corrupted copy.
  * Returns the process exit code (0 when everything held).
  */
object SelfTest {
  def run(a: Main.Args): Int = {
    val off = new Tracer(false)
    val results = mutable.ArrayBuffer.empty[(String, Boolean)]
    def expect(name: String, ok: Boolean): Unit = {
      results += name -> ok
      println(s"selftest ${if (ok) "ok    " else "FAILED"} $name")
    }
    def failsOnly(checks: Seq[(String, Boolean)], name: String): Boolean =
      checks.exists(c => c._1 == name && !c._2)
    val small = a.copy(scale = "small", seconds = 1)

    // 1 + 2: each workload at small size
    val expected = Map(
      "recsys_flow" -> Seq("setup_s", "pass_s", "rmse", "map_at_100", "live_heap_mb", "fail_ratio"),
      "recsys_rescore" -> Seq("setup_s", "pass_s", "rmse", "map_at_100", "live_heap_mb", "fail_ratio"),
      "curation_intake" -> Seq("setup_s", "pass_s", "batch_p50_s", "docs_per_s", "dup_leaks",
        "live_heap_mb", "fail_ratio"))
    val outcomes = Main.Workloads.map { w =>
      val args = small.copy(workload = w, out = s"${a.out}/$w")
      val o = Main.runWorkload(off, args)
      val lines = Main.report(o)
      lines.foreach(l => println(s"  $w: $l"))
      expect(s"$w: every end-to-end metric prints with its unit",
        (expected(w) ++ Main.Reported).forall(n => lines.exists(_.matches(s"metric $n \\S+ \\S+ (lower|higher)"))) &&
          (w != "curation_intake" || lines.exists(_.matches("metric batch_(p\\d+|max)_s .*"))))
      expect(s"$w: every check passes", o.failed == 0 && o.failures.isEmpty)
      w -> (o, args)
    }.toMap

    // 3a: recsys checks on corrupted copies of one real pass
    val spark = SparkSession.active
    val dir = s"${a.out}/recsys_rescore/recsys-${Main.SetupReps - 1}"
    val p = Recsys.pass(spark, off, s"$dir/ratings", s"$dir/model", fitEveryPass = false,
      evaluate = true)
    val sd = p.test.agg(stddev_samp(col("rating"))).first().getDouble(0)
    val popMap = Recsys.popularityMap(p.test, p.popTop)
    val firstTrain = p.train.limit(1)
    expect("split_disjoint fails when a train row is also in validation",
      failsOnly(Recsys.splitCheck(p.train, p.validation.union(firstTrain), p.test,
        p.nInput + 1), "split_disjoint"))
    expect("split_complete fails when a test row is lost",
      failsOnly(Recsys.splitCheck(p.train, p.validation, p.test.except(p.test.limit(1)),
        p.nInput), "split_complete"))
    expect("popularity_100_distinct fails on a duplicated movie",
      failsOnly(Recsys.popularityCheck(p.popTop.limit(99).union(p.popTop.limit(1))),
        "popularity_100_distinct"))
    val someUser = p.recs.select(min(col("userId"))).first().get(0)
    expect("every_user_ranks_1_to_100 fails on a duplicated rank",
      failsOnly(Recsys.ranksCheck(p.recs.withColumn("rank",
        when(col("userId") === someUser && col("rank") === 2, lit(1L)).otherwise(col("rank"))),
        p.model.userFactors.count()), "every_user_ranks_1_to_100"))
    expect("every_user_ranks_1_to_100 fails when a user has no recommendations",
      failsOnly(Recsys.ranksCheck(p.recs.filter(col("userId") =!= someUser),
        p.model.userFactors.count()), "every_user_ranks_1_to_100"))
    val badRmse = Eval.rmse(Recommend.predict(p.model, p.test)
      .withColumn("prediction", col("prediction") + 3.0)).first().getDouble(0)
    expect("rmse_below_label_sd fails on shifted predictions",
      failsOnly(Recsys.qualityCheck(badRmse, sd, p.mapAt100, popMap), "rmse_below_label_sd"))
    val badMap = Eval.standardMapAtK(p.test,
      p.recs.withColumn("movieId", col("movieId") + 1000000), Recsys.K).first().getDouble(0)
    expect("als_map_beats_popularity fails on recommendations of unknown movies",
      failsOnly(Recsys.qualityCheck(p.rmse, sd, badMap, popMap), "als_map_beats_popularity"))
    Recsys.release(spark)

    // 3b: intake checks on corrupted copies of the real sink and ledger
    val (io, iargs) = outcomes("curation_intake")
    val live = s"${iargs.out}/intake-${Main.SetupReps - 1}"
    val refs = Seq(Intake.ledgerCounts(spark, s"${iargs.out}/intake-0/ledger"))
    val ledger = Intake.ledgerCounts(spark, s"$live/ledger")
    val batches = io.attempted
    val (_, _, leaks) = Intake.outputChecks(spark, s"$live/sink", ledger, refs, batches)
    expect("dup_leaks is measured on a feed that repeats admitted docs", leaks > 0)
    val sink = spark.read.parquet(s"$live/sink")
    val one = sink.orderBy(col("doc_id")).limit(1)
    val planted = s"${a.out}/sink-planted-repeat"
    sink.union(one.withColumn("doc_id", lit(Inputs.IndexRepeat * 100000L + 99999L)))
      .write.parquet(planted)
    val (c1, _, _) = Intake.outputChecks(spark, planted, ledger, refs, batches)
    expect("intake_no_index_prev_or_bench_repeat_in_sink fails on a planted index repeat",
      failsOnly(c1, "intake_no_index_prev_or_bench_repeat_in_sink"))
    val leaked = s"${a.out}/sink-planted-leak"
    sink.union(one.withColumn("doc_id", lit((batches - 1) * 1000000L +
      Inputs.OldRepeat * 100000L + 99999L))).write.parquet(leaked)
    val (_, _, leaks2) = Intake.outputChecks(spark, leaked, ledger, refs, batches)
    expect("dup_leaks counts a planted repeat of an admitted doc", leaks2 == leaks + 1)
    val bumped = ledger.head.copy(_3 = ledger.head._3 + 1) +: ledger.tail
    expect("intake_ledger_same_across_same_seed_runs fails on a changed count",
      failsOnly(Intake.outputChecks(spark, s"$live/sink", bumped, refs, batches)._1,
        "intake_ledger_same_across_same_seed_runs"))
    expect("intake_ledger_row_per_batch fails on a missing ledger row",
      failsOnly(Intake.outputChecks(spark, s"$live/sink", ledger.init, refs, batches)._1,
        "intake_ledger_row_per_batch"))

    spark.stop()
    val bad = results.count(!_._2)
    println(s"selftest ${results.size - bad}/${results.size} passed")
    if (bad == 0) 0 else 1
  }
}
