package perfbench

import graft.Tables
import graft.operators.{Artifacts, Eval, Popularity, Recommend, Split}
import org.apache.spark.ml.recommendation.ALSModel
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

import scala.collection.mutable

/** The reference recommender flow, one evaluated pass at a time:
  * CSV ingest, v2 split, popularity baseline with hit ratio on
  * validation, ALS at the reference config (fit every pass, or loaded
  * from a model that set-up published), top-100 for every user, standard
  * MAP@100 and RMSE on test.
  */
object Recsys {
  val K = 100

  /** What one pass produced, pinned until [[release]]. */
  final case class PassOut(seconds: Double, cpuSeconds: Double, nInput: Long, train: DataFrame,
      validation: DataFrame, test: DataFrame, popTop: DataFrame, model: ALSModel,
      recs: DataFrame, hitRatio: Double, mapAt100: Double, rmse: Double)

  /** Reported on every pass but not counted as a failure: at the reference
    * config the explicit-feedback ALS loses to the popularity baseline on
    * MAP@100 at HEAD (see the benchmark's README).
    */
  val Findings: Set[String] = Set("als_map_beats_popularity")

  def run(newSession: () => SparkSession, tr: Tracer, a: Main.Args, fit: Boolean): Main.Outcome = {
    val shape = if (a.scale == "small") Inputs.RatingsShape.small else Inputs.RatingsShape.full
    // set-up, repeated in fresh directories: a new session, the inputs,
    // then (rescore) ingest + split + fit + publish through
    // Artifacts.loadOrFitAls
    var spark: SparkSession = null
    val setups = (0 until (if (fit) Main.FlowSetupReps else Main.SetupReps)).map { rep =>
      tr.unit = -1 - rep
      val t0 = System.nanoTime()
      val dir = s"${a.out}/recsys-$rep"
      tr("setup") {
        spark = newSession()
        Inputs.writeRatings(a.seed, shape, s"$dir/ratings")
        if (!fit) {
          pass(spark, tr, s"$dir/ratings", s"$dir/model", fitEveryPass = false, evaluate = false)
          release(spark)
        }
      }
      (Main.secs(t0), dir)
    }
    val dir = setups.last._2

    val outs = mutable.ArrayBuffer.empty[PassOut]
    val failures = mutable.ArrayBuffer.empty[String]
    val findings = mutable.ArrayBuffer.empty[String]
    var failed = 0
    var popMaps = List.empty[Double]
    var heapMb = 0.0
    val deadline = System.nanoTime() + a.seconds * 1000000000L
    var k = 0
    do {
      tr.unit = k
      try {
        val modelDir = if (fit) s"$dir/model-pass$k" else s"$dir/model"
        val p = tr("pass")(pass(spark, tr, s"$dir/ratings", modelDir, fit, evaluate = true))
        val (cs, popMap) = checks(spark, p)
        tr.noteLast("Eval", "users", p.test.select("userId").distinct().count().toDouble)
        popMaps ::= popMap
        release(spark)
        outs += p
        val (noted, bad) = cs.filterNot(_._2).map(_._1).partition(Findings)
        findings ++= noted.map(n => f"finding $n false (ALS ${p.mapAt100}%.6f, popularity $popMap%.6f)")
        if (bad.nonEmpty) { failed += 1; failures ++= bad }
      } catch {
        case e: Exception =>
          failed += 1
          failures += s"exception: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).linesIterator.nextOption().getOrElse("")}"
      }
      heapMb = math.max(heapMb, Main.liveHeapMb())
      k += 1
    } while (System.nanoTime() < deadline)

    val table = mutable.LinkedHashMap.empty[String, Main.Metric]
    def m(n: String, v: Double, unit: String, better: String) = table(n) = Main.Metric(v, unit, better)
    val med = (f: PassOut => Double) => Tracer.median(outs.map(f).toSeq)
    m("setup_s", Tracer.median(setups.map(_._1)), "s", "lower")
    m("pass_s", med(_.seconds), "s", "lower")
    m("pass_cpu_s", med(_.cpuSeconds), "s", "lower")
    m("rmse", med(_.rmse), "rating", "lower")
    m("map_at_100", med(_.mapAt100), "ratio", "higher")
    m("live_heap_mb", heapMb, "MB", "lower")
    m("fail_ratio", failed.toDouble / k, "ratio", "lower")
    m("passes", outs.size.toDouble, "count", "higher")
    m("hit_ratio_validation", med(_.hitRatio), "ratio", "higher")
    m("popularity_map_at_100", Tracer.median(popMaps), "ratio", "higher")
    m("als_over_popularity_map", med(_.mapAt100) / Tracer.median(popMaps), "ratio", "higher")
    m("input_ratings", outs.headOption.map(_.nInput.toDouble).getOrElse(0.0), "count", "higher")
    Main.Outcome(k, failed, failures.distinct.toSeq, table, findings.distinct.toSeq)
  }

  /** One pass. Each stage runs inside its layer's span and pins its
    * output (persist + count), so the stage's work lands in its span.
    */
  def pass(spark: SparkSession, tr: Tracer, csvDir: String, modelDir: String,
      fitEveryPass: Boolean, evaluate: Boolean): PassOut = {
    def pin(df: DataFrame): (DataFrame, Long) = { val p = df.persist(); (p, p.count()) }
    val t0 = System.nanoTime()
    val c0 = Main.cpuNs()
    val (ratings, nIn) = tr("Tables.readCsv")(pin(
      Tables.readCsv(spark, csvDir, Tables.movieLensRatingsSchema, header = true)))
    val (train, validation, test) = tr("Split.splitV2") {
      val (t, v, s) = Split.splitV2(ratings)
      val (pt, pv, ps) = (pin(t), pin(v), pin(s))
      tr.note("rows", (pt._2 + pv._2 + ps._2).toDouble)
      (pt._1, pv._1, ps._1)
    }
    def fitTrain() = tr("Recommend.train")(Recommend.train(train))
    val model =
      if (fitEveryPass) {
        // fit, publish, and score from the published copy
        val trained = fitTrain()
        tr("Artifacts.loadOrFitAls")(Artifacts.loadOrFitAls(spark, modelDir)(trained))
        tr("Artifacts.loadOrFitAls")(Artifacts.loadOrFitAls(spark, modelDir)(
          throw new IllegalStateException(s"no model published at $modelDir")))
      } else tr("Artifacts.loadOrFitAls")(Artifacts.loadOrFitAls(spark, modelDir)(fitTrain()))
    if (!evaluate)
      return PassOut(Main.secs(t0), (Main.cpuNs() - c0) / 1e9, nIn, train, validation, test, null, model, null, 0, 0, 0)
    // the baseline is fit on train, as popularity_model.py does
    val popTop = tr("Popularity.topMovies")(pin(Popularity.topMovies(train))._1)
    val hit = tr("Eval")(Eval.hitRatioGlobal(validation, popTop).first().getDouble(0))
    val recs = tr("Recommend.recommendTopK") {
      val (r, n) = pin(Recommend.recommendTopK(model, K))
      tr.note("users", n.toDouble / K)
      r
    }
    val map = tr("Eval")(Eval.standardMapAtK(test, recs, K).first().getDouble(0))
    val rmse = tr("Eval")(Eval.rmse(Recommend.predict(model, test)).first().getDouble(0))
    PassOut(Main.secs(t0), (Main.cpuNs() - c0) / 1e9, nIn, train, validation, test, popTop, model, recs, hit, map, rmse)
  }

  /** Drops every pin and cached RDD (the ALS factors included). */
  def release(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  // ------------------------------------------------------------------ checks

  /** Output checks on one pass, as (name, passed), and the popularity
    * baseline's MAP@100 on the same test labels.
    */
  def checks(spark: SparkSession, p: PassOut): (Seq[(String, Boolean)], Double) = {
    val sd = p.test.agg(stddev_samp(col("rating"))).first().getDouble(0)
    val popMap = popularityMap(p.test, p.popTop)
    (splitCheck(p.train, p.validation, p.test, p.nInput) ++
      popularityCheck(p.popTop) ++
      ranksCheck(p.recs, p.model.userFactors.count()) ++
      qualityCheck(p.rmse, sd, p.mapAt100, popMap), popMap)
  }

  def qualityCheck(rmse: Double, labelSd: Double, alsMap: Double,
      popMap: Double): Seq[(String, Boolean)] =
    Seq("rmse_below_label_sd" -> (rmse < labelSd),
      "als_map_beats_popularity" -> (alsMap > popMap))

  def splitCheck(train: DataFrame, validation: DataFrame, test: DataFrame,
      nInput: Long): Seq[(String, Boolean)] = {
    val r = Split.disjointnessReport(train, validation, test, train.columns.toSeq).first()
    Seq(
      "split_disjoint" -> (r.getAs[Long]("overlap_train_val") == 0L &&
        r.getAs[Long]("overlap_train_test") == 0L && r.getAs[Long]("overlap_val_test") == 0L),
      "split_complete" -> (r.getAs[Long]("n_train") + r.getAs[Long]("n_validation") +
        r.getAs[Long]("n_test") == nInput))
  }

  def popularityCheck(popTop: DataFrame): Seq[(String, Boolean)] = {
    val r = popTop.agg(count(lit(1)), countDistinct(col("movieId"))).first()
    Seq("popularity_100_distinct" -> (r.getLong(0) == K && r.getLong(1) == K))
  }

  /** Every model user has exactly the ranks 1..100, once each. */
  def ranksCheck(recs: DataFrame, modelUsers: Long): Seq[(String, Boolean)] = {
    val r = recs.groupBy(col("userId"))
      .agg(count(lit(1)).as("n"), countDistinct(col("rank")).as("nd"),
        min(col("rank")).as("lo"), max(col("rank")).as("hi"))
      .agg(count(lit(1)), sum(when(col("n") === K && col("nd") === K &&
        col("lo") === 1 && col("hi") === K, 0).otherwise(1)))
      .first()
    Seq("every_user_ranks_1_to_100" -> (r.getLong(0) == modelUsers && r.getLong(1) == 0L))
  }

  /** Standard MAP@100 of the popularity top-100, given to every test user. */
  def popularityMap(test: DataFrame, popTop: DataFrame): Double = {
    val ranked = popTop.withColumn("rank", row_number().over(
      Window.orderBy(round(col("score"), 6).desc, col("movieId").asc)).cast("long"))
    val recs = test.select(col("userId")).distinct()
      .crossJoin(ranked.select(col("movieId"), col("rank")))
    Eval.standardMapAtK(test, recs, K).first().getDouble(0)
  }
}
