package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.{Aggregator, Window}
import org.apache.spark.sql.functions._

/** Ranking / regression evaluation, fully distributed (SURVEY §2.8 U2–U5,
  * §2.9 M5/M7).
  *
  * The reference evaluated by collecting the full ranked list AND every
  * validation/test movieId to the driver and looping in Python
  * (`popularity_model.py:59-77`), or by dropping to an RDD lambda
  * (`als.py:128-131`) — the report itself documents the resulting OOM/1.5 h
  * failure path (`FinalReport.pdf p.2 §4`). Every metric here is a column
  * expression or typed Aggregator: codegen'd, shuffle-partitioned on
  * userId, no driver state.
  */
object Eval {

  /** U3 `hit_ratio(top_k, labels)` (reference `popularity_model.py:15-21`):
    * fraction of ground-truth ids present in the recommendation list.
    * Global form, as the reference applies it (all label rows vs one global
    * top-k list): `labels` is a (rows of movieId) relation; `topK` the
    * recommended movie list. Returns 1 row.
    *
    * Scale shape: broadcast the k-row rec list; a broadcast-hash left join
    * + avg — the label relation streams, nothing collects.
    */
  def hitRatioGlobal(labelRows: DataFrame, topK: DataFrame): DataFrame = {
    val recs = broadcast(topK.select(col("movieId")).withColumn("__hit", lit(1.0)))
    labelRows.select(col("movieId"))
      .join(recs, Seq("movieId"), "left")
      .agg(round(avg(coalesce(col("__hit"), lit(0.0))), 6).as("hit_ratio"))
  }

  /** U2 `mAP(top_k, labels)` — the reference's NON-standard AP formula
    * (`als.py:10-20`, duplicated `popularity_model.py:23-33`): each label
    * found at 0-based rank r in the k-list contributes
    * `(1 + 1/(r+1)) / k`; labels not found contribute 0; the score is the
    * mean over labels. Replicated exactly (documented quirk, SURVEY §7.4).
    *
    * Global form: one row. `rankedTopK` must carry (movieId, rank) with
    * rank 1-based; then contribution = (1 + 1/rank) / k.
    */
  def referenceMapGlobal(labelRows: DataFrame, rankedTopK: DataFrame,
      k: Int): DataFrame = {
    val recs = broadcast(rankedTopK.select(col("movieId"), col("rank")))
    labelRows.select(col("movieId"))
      .join(recs, Seq("movieId"), "left")
      .select(coalesce((lit(1.0) + lit(1.0) / col("rank")) / lit(k.toDouble), lit(0.0)).as("c"))
      .agg(round(avg(col("c")), 6).as("map_ref"))
  }

  /** U2 per-user form (the ALS evaluation path `als.py:115-133`): labels
    * grouped by user; AP_u = mean of per-label contributions; MAP = mean of
    * AP_u. One shuffle on userId; the rec list is broadcast.
    */
  def referenceMapPerUser(labelRows: DataFrame, rankedTopK: DataFrame,
      k: Int): DataFrame = {
    val recs = broadcast(rankedTopK.select(col("movieId"), col("rank")))
    labelRows.select(col("userId"), col("movieId"))
      .join(recs, Seq("movieId"), "left")
      .select(col("userId"),
        coalesce((lit(1.0) + lit(1.0) / col("rank")) / lit(k.toDouble), lit(0.0)).as("c"))
      .groupBy(col("userId")).agg(avg(col("c")).as("ap"))
      .agg(round(avg(col("ap")), 6).as("map_ref_user"))
  }

  /** Standard MAP@k (the metric the reference *intended*; cross-check next
    * to the quirky one, SURVEY §2.8 U2 note + M7): per user, hits in rank
    * order contribute precision-at-that-rank; AP = sum / min(k, |labels|).
    *
    * Input: per-user ranked recommendations (userId, movieId, rank 1-based)
    * and per-user label rows. Join on (user, item) keeps only hits; a
    * window over rank numbers them. Shuffles: one on (user,item) for the
    * join, one on user for the window+agg — both on high-cardinality keys.
    */
  def standardMapAtK(labelRows: DataFrame, userRecs: DataFrame, k: Int): DataFrame = {
    val labels = labelRows.select(col("userId"), col("movieId")).distinct()
    val nLabels = labels.groupBy(col("userId")).agg(count(lit(1)).as("n_labels"))
    val hits = userRecs.join(labels, Seq("userId", "movieId"), "left_semi")
    val w = Window.partitionBy(col("userId")).orderBy(col("rank"))
    val perUser = hits
      .withColumn("i", row_number().over(w))
      .select(col("userId"), (col("i").cast("double") / col("rank")).as("prec"))
      .groupBy(col("userId")).agg(sum(col("prec")).as("sum_prec"))
    nLabels.join(perUser, Seq("userId"), "left")
      .select(col("userId"),
        (coalesce(col("sum_prec"), lit(0.0)) /
          least(col("n_labels"), lit(k)).cast("double")).as("ap"))
      .agg(round(avg(col("ap")), 6).as("map_at_k"))
  }

  /** precision@k, per-user form (reference `extension.py:167,174,181` —
    * LightFM `precision_at_k(model, m, k=100).mean()`; published in
    * `final_report_numbers.md:24-35`): for each user with ≥1 label, the
    * fraction of the user's top-k recommended items present in the
    * labels; the score is the mean over label-holding users (LightFM
    * excludes users with no positives — users with labels but no recs
    * count as 0).
    *
    * Shuffles: one (user,item) join for hits, one user agg — both on
    * high-cardinality keys; nothing collects.
    */
  def precisionAtKPerUser(labelRows: DataFrame, userRecs: DataFrame,
      k: Int): DataFrame = {
    val labels = labelRows.select(col("userId"), col("movieId")).distinct()
    val labelUsers = labels.select(col("userId")).distinct()
    val hits = userRecs.filter(col("rank") <= k)
      .join(labels, Seq("userId", "movieId"), "left_semi")
      .groupBy(col("userId")).agg(count(lit(1)).as("n_hits"))
    labelUsers.join(hits, Seq("userId"), "left")
      .select((coalesce(col("n_hits"), lit(0L)).cast("double") / lit(k.toDouble)).as("p"))
      .agg(round(avg(col("p")), 6).as("precision_user"))
  }

  /** precision@k, global form (the popularity-model shape, matching
    * [[hitRatioGlobal]]'s orientation): the fraction of the GLOBAL top-k
    * list that appears in any label row. Scale shape: broadcast the
    * k-row list, semi-join PRUNES the label stream to ≤k distinct items
    * BEFORE the distinct — the dedup shuffle only ever sees hit rows.
    */
  def precisionAtKGlobal(labelRows: DataFrame, topK: DataFrame, k: Int): DataFrame = {
    val recs = broadcast(topK.filter(col("rank") <= k).select(col("movieId")))
    labelRows.select(col("movieId"))
      .join(recs, Seq("movieId"), "left_semi")
      .distinct()
      .agg(round(count(lit(1)).cast("double") / lit(k.toDouble), 6)
        .as("precision_global"))
  }

  /** M5: RMSE as a plain expression (no evaluator object needed;
    * reference `als.py:49,103`).
    */
  def rmse(predictions: DataFrame): DataFrame =
    predictions.agg(
      round(sqrt(avg(pow(col("prediction") - col("rating"), 2.0))), 6).as("rmse"))

  /** M7: the standard-MAP cross-check via
    * `org.apache.spark.mllib.evaluation.RankingMetrics` — the exact API the
    * reference imported and then abandoned for memory reasons
    * (`als.py:3`, `FinalReport.pdf p.2 §4`). Inputs as in
    * [[standardMapAtK]]; returns meanAveragePrecisionAt(k) as 1 row.
    * Note: RDD-based (collects per-user arrays onto executors, not the
    * driver) — fine as a cross-check, the column form is the scale path.
    */
  def rankingMetricsMapAtK(labelRows: DataFrame, userRecs: DataFrame,
      k: Int): DataFrame = {
    val spark = labelRows.sparkSession
    import spark.implicits._
    val recsByUser = userRecs
      .groupBy(col("userId"))
      .agg(sort_array(collect_list(struct(col("rank"), col("movieId")))).as("rl"))
      .select(col("userId"), col("rl").getField("movieId").as("recs"))
    val labelsByUser = labelRows.select(col("userId"), col("movieId")).distinct()
      .groupBy(col("userId")).agg(collect_list(col("movieId")).as("labels"))
    // right join: users with labels but NO recommendations still count
    // (AP 0), matching standardMapAtK's left-join-from-labels semantics
    val pairs = recsByUser.join(labelsByUser, Seq("userId"), "right")
      .select(coalesce(col("recs"), array()).as("recs"), col("labels"))
      .as[(Seq[Long], Seq[Long])]
      .rdd.map { case (r, l) => (r.toArray, l.toArray) }
    val metric = new org.apache.spark.mllib.evaluation.RankingMetrics(pairs)
      .meanAveragePrecisionAt(k)
    Seq(metric).toDF("map_at_k_mllib").select(round(col("map_at_k_mllib"), 6).as("map_at_k_mllib"))
  }

  /** U4 quirk replica: the reference's RDD lambda passes the GROUND-TRUTH
    * list as `top_k_recommendations` and the recommendation list as
    * `user_labels` (`als.py:128-131` — arguments swapped relative to the
    * U2 signature). For parity we expose the swapped variant explicitly:
    * per user, each RECOMMENDED item is looked up in the user's LABEL
    * list position.
    */
  def referenceMapPerUserSwapped(labelRows: DataFrame, rankedTopK: DataFrame,
      k: Int): DataFrame = {
    // labels (per user) play the role of the ranked list: rank = position
    // by ascending movieId order is NOT the reference's order — the
    // reference's list order is collect_list order, which is
    // nondeterministic; we fix it to sorted order and document the choice.
    val w = Window.partitionBy(col("userId")).orderBy(col("movieId"))
    val labelRanked = labelRows.select(col("userId"), col("movieId")).distinct()
      .withColumn("lrank", row_number().over(w))
    val nLabels = labelRanked.groupBy(col("userId")).agg(count(lit(1)).as("n_labels"))
    val recs = broadcast(rankedTopK.select(col("movieId")))
    val hits = recs.join(labelRanked, Seq("movieId")) // recommended ∧ in labels
      .select(col("userId"),
        (lit(1.0) + lit(1.0) / col("lrank")).as("raw"))
      .groupBy(col("userId")).agg(sum(col("raw")).as("sum_raw"))
    // AP_u = (Σ_hits (1 + 1/lrank) / n_labels) / k; users w/o hits → 0
    nLabels.join(hits, Seq("userId"), "left")
      .select((coalesce(col("sum_raw"), lit(0.0)) / col("n_labels") / lit(k.toDouble)).as("ap"))
      .agg(round(avg(col("ap")), 6).as("map_ref_swapped"))
  }

  // ---------------------------------------------------------------------
  // Typed Aggregator forms (SURVEY §7.3) — for users holding
  // Dataset[(recs, labels)] pairs; same math as the column forms above.
  // ---------------------------------------------------------------------

  /** Reference-mAP over (topK, labels) array pairs, as a typed Aggregator:
    * exact `als.py:10-20` semantics per row, averaged by the caller.
    */
  def referenceMapScore(topK: Seq[Int], labels: Seq[Int]): Double = {
    if (labels.isEmpty) 0.0
    else {
      // first occurrence wins (the reference `break`s at the first match,
      // als.py:14-17) — note Scala's zipWithIndex.toMap would keep the
      // LAST index, which is why this folds left-to-right guarding on
      // prior presence
      val pos = topK.zipWithIndex.foldLeft(Map.empty[Int, Int]) {
        case (m, (id, i)) => if (m.contains(id)) m else m.updated(id, i)
      }
      val s = labels.iterator.map { m =>
        pos.get(m) match {
          case Some(r) => (1.0 + 1.0 / (r + 1)) / topK.size
          case None => 0.0
        }
      }.sum
      s / labels.size
    }
  }

  /** U3 per-row hit ratio on array pairs (reference `popularity_model.py:15-21`). */
  def hitRatioScore(topK: Seq[Int], labels: Seq[Int]): Double =
    if (labels.isEmpty) 0.0
    else labels.count(topK.toSet).toDouble / labels.size

  /** Mean-of-scores Aggregator: plugs `referenceMapScore`/`hitRatioScore`
    * into `Dataset[(Seq[Int], Seq[Int])].select(agg.toColumn)`.
    */
  class MeanScore(score: (Seq[Int], Seq[Int]) => Double)
      extends Aggregator[(Seq[Int], Seq[Int]), (Double, Long), Double] {
    def zero: (Double, Long) = (0.0, 0L)
    def reduce(b: (Double, Long), a: (Seq[Int], Seq[Int])): (Double, Long) =
      (b._1 + score(a._1, a._2), b._2 + 1)
    def merge(a: (Double, Long), b: (Double, Long)): (Double, Long) =
      (a._1 + b._1, a._2 + b._2)
    def finish(r: (Double, Long)): Double = if (r._2 == 0) 0.0 else r._1 / r._2
    def bufferEncoder = org.apache.spark.sql.Encoders.tuple(
      org.apache.spark.sql.Encoders.scalaDouble, org.apache.spark.sql.Encoders.scalaLong)
    def outputEncoder = org.apache.spark.sql.Encoders.scalaDouble
  }
}
