package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Popularity baseline (reference `popularity_model.py:39-82`, SURVEY §2
  * A1/A2/A3, P4, U1, O1, O4).
  *
  * The reference computed this with three separate Spark jobs (two scalar
  * `collect`s for the global mean and the P90 cutoff, then a third job for
  * the final sorted list) plus an opaque Python UDF for the weighted score
  * (`popularity_model.py:54-55`). Here the whole pipeline is ONE logical
  * plan:
  *
  *  - the two scalars are 1-row aggregates attached by `crossJoin` (Catalyst
  *    plans a broadcast-nested-loop join of a single row — no driver
  *    round-trip, no re-scan of the base table when the aggregate is reused);
  *  - the weighted score is native column arithmetic (codegen'd, foldable),
  *    not a UDF — Catalyst sees through it (SURVEY §4).
  *
  * At 100 TB: the per-movie aggregate is a hash aggregate with map-side
  * partial combine (one shuffle on movieId); the two stat aggregates reduce
  * that already-aggregated (≪ input) relation; the final top-k is a
  * `TakeOrderedAndProject` (per-partition top-k + driver merge of k·p rows),
  * NOT a global sort.
  */
object Popularity {

  /** IMDB-style Bayesian weighted rating (reference `popularity_model.py:9-13`):
    * `v/(v+per)*r + per/(per+v)*avg` where v = rating count, r = movie mean
    * rating, per = P90 count quantile, avg = global mean of movie means.
    */
  def weightedScore(v: Column, r: Column, per: Column, avg: Column): Column =
    (v / (v + per)) * r + (per / (per + v)) * avg

  /** Per-movie aggregate (A1): avg rating + rating count. */
  def aggRatings(ratings: DataFrame): DataFrame =
    ratings.groupBy(col("movieId")).agg(
      avg(col("rating")).as("avg_rating"),
      count(col("userId")).as("user_count"))

  /** Full popularity pipeline → top-k movies by weighted score.
    *
    * @param quantile popularity cutoff quantile (reference uses 0.9,
    *                 `popularity_model.py:50`)
    * @param k        size of the recommendation list (task spec top-100,
    *                 reference `README.md:57`)
    */
  def topMovies(ratings: DataFrame, quantile: Double = 0.9, k: Int = 100): DataFrame =
    topScored(scoreAll(aggRatings(ratings), expr(s"percentile(user_count, $quantile)")), k)

  /** Sketch-based variant for the true 100 TB path: `percentile_approx`
    * (KLL/GK, mergeable, single pass) — same shape, approximate cutoff.
    * Kept out of the oracle set (approx ≠ DuckDB exact).
    */
  def topMoviesApprox(ratings: DataFrame, quantile: Double = 0.9, k: Int = 100): DataFrame =
    topScored(scoreAll(aggRatings(ratings),
      percentile_approx(col("user_count"), lit(quantile), lit(10000))), k)

  /** The k best scored movies, ranked on the ROUNDED score with a movieId
    * tiebreak (SURVEY §7.4): ranking on the raw double lets sub-1e-6
    * cross-engine float drift flip which movie holds the rank-k cutoff.
    */
  private def topScored(scored: DataFrame, k: Int): DataFrame =
    scored
      .select(col("movieId"), col("avg_rating"), col("user_count"), col("score"))
      .orderBy(round(col("score"), 6).desc, col("movieId").asc)
      .limit(k)

  /** Shared scoring core: reduce the per-movie relation to a 1-row global
    * stats aggregate (m = mean of movie means, q = count quantile) and
    * attach it back with a broadcast cross join, then filter to the
    * popularity cutoff and score.
    *
    * Why not an unbounded window over `agg`: that funnels the whole
    * per-movie relation through ONE partition (WindowExec with an empty
    * partition spec) — at catalog scale it serializes the scoring stage.
    * The two-branch aggregate keeps every stage 32-wide: both branches
    * consume the SAME shuffle exchange under the movieId aggregate
    * (ReusedExchange — one fact-table scan), the stats branch reduces
    * |movies| rows to 1, and the broadcast back onto the probe side is a
    * single row.
    */
  def scoreAll(agg: DataFrame, quantileExpr: Column): DataFrame = {
    val stats = agg.agg(avg(col("avg_rating")).as("m"), quantileExpr.as("q"))
    agg
      .crossJoin(broadcast(stats))
      .filter(col("user_count") >= col("q"))
      .withColumn("score",
        weightedScore(col("user_count").cast("double"), col("avg_rating"), col("q"), col("m")))
  }
}
