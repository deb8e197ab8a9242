package graft.operators

import org.apache.spark.ml.evaluation.RegressionEvaluator
import org.apache.spark.ml.recommendation.{ALS, ALSModel}
import org.apache.spark.ml.tuning.{CrossValidator, CrossValidatorModel, ParamGridBuilder}
import org.apache.spark.sql.{DataFrame, Column}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** ALS collaborative filtering + per-user top-k (SURVEY §2.9 M1–M6,
  * §2.4 A6, §2.6 O5).
  *
  * Same estimator surface and hyperparameters as the reference
  * (`als.py:36-46`), minus the py4j reflection it needed to read back the
  * best CV params (`als.py:74-79`) — the JVM API exposes them typed.
  */
object Recommend {

  /** Reference hyperparameters (`als.py:36-46`). The reference's other
    * settings are fixed in [[estimator]]: non-negative factors, explicit
    * ratings, cold-start rows dropped, and the (userId, movieId, rating)
    * columns.
    */
  case class AlsConfig(
      rank: Int = 100,
      maxIter: Int = 3,
      regParam: Double = 0.15,
      seed: Long = 1234L)

  def estimator(cfg: AlsConfig = AlsConfig()): ALS =
    new ALS()
      .setRank(cfg.rank)
      .setMaxIter(cfg.maxIter)
      .setRegParam(cfg.regParam)
      .setNonnegative(true)
      .setImplicitPrefs(false)
      .setColdStartStrategy("drop")
      .setSeed(cfg.seed)
      .setUserCol("userId")
      .setItemCol("movieId")
      .setRatingCol("rating")

  /** M2: fit (reference `als.py:87`). */
  def train(ratings: DataFrame, cfg: AlsConfig = AlsConfig()): ALSModel =
    estimator(cfg).fit(ratings)

  /** M3: predictions on held-out rows (reference `als.py:93`). */
  def predict(model: ALSModel, holdout: DataFrame): DataFrame =
    model.transform(holdout)

  /** M4: per-user top-k, exploded to flat (userId, movieId, rank) rows —
    * unlike the reference's `ARRAY<STRUCT>` + `getField` juggling
    * (`als.py:96,120`), downstream joins get plain columns.
    */
  def recommendTopK(model: ALSModel, k: Int): DataFrame =
    flatRecs(model.recommendForAllUsers(k), "userId", "movieId")

  /** M4 (item side): per-item top-k users, flat rows — the
    * `recommendForAllItems` twin of [[recommendTopK]] (audience targeting /
    * item-cold-start triage; not used by the reference but part of the
    * same MLlib surface).
    */
  def recommendUsersTopK(model: ALSModel, k: Int): DataFrame =
    flatRecs(model.recommendForAllItems(k), "movieId", "userId")

  /** M4 (subset): recommendations for a user subset only — at scale the
    * subset is the probe side; MLlib joins it against the factor matrix
    * before the blocked top-k, so cost tracks |subset|, not |all users|.
    */
  def recommendForUsers(model: ALSModel, users: DataFrame, k: Int): DataFrame =
    flatRecs(model.recommendForUserSubset(users, k), "userId", "movieId")

  /** MLlib's per-key `recommendations` array exploded to flat
    * (key, item, rank, score) rows, rank 1-based.
    */
  private def flatRecs(nested: DataFrame, key: String, item: String): DataFrame =
    nested
      .select(col(key),
        posexplode(col("recommendations")).as(Seq("pos", "rec")))
      .select(col(key),
        col(s"rec.$item").as(item),
        (col("pos") + 1).cast("long").as("rank"),
        col("rec.rating").as("score"))

  /** A6/O5 DataFrame-native per-key top-k for arbitrary scored relations
    * (the non-ALS path): ranking window + filter. At scale this is one
    * shuffle on `key`; no global sort, no driver collect (contrast
    * `popularity_model.py:59`).
    */
  def topKPerKey(scored: DataFrame, key: String, order: Seq[Column], k: Int): DataFrame = {
    val w = Window.partitionBy(col(key)).orderBy(order: _*)
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
  }

  /** M5: RMSE via the MLlib evaluator (expression form in [[Eval.rmse]]). */
  def rmseEvaluator(): RegressionEvaluator =
    new RegressionEvaluator()
      .setMetricName("rmse").setLabelCol("rating").setPredictionCol("prediction")

  /** M6: hyperparameter grid + k-fold CV (reference `als.py:53-80`:
    * rank ∈ {10,50,100,150}, regParam ∈ {.01,.05,.1,.15}, 5 folds).
    * Returns the fitted CV model; best params are typed:
    * `bestAls(cv).getRank` — no `_java_obj.parent()` reflection.
    */
  def crossValidate(
      ratings: DataFrame,
      ranks: Seq[Int] = Seq(10, 50, 100, 150),
      regParams: Seq[Double] = Seq(0.01, 0.05, 0.1, 0.15),
      numFolds: Int = 5,
      cfg: AlsConfig = AlsConfig()): CrossValidatorModel = {
    val als = estimator(cfg)
    val grid = new ParamGridBuilder()
      .addGrid(als.rank, ranks)
      .addGrid(als.regParam, regParams)
      .build()
    new CrossValidator()
      .setEstimator(als)
      .setEvaluator(rmseEvaluator())
      .setEstimatorParamMaps(grid)
      .setNumFolds(numFolds)
      .setSeed(cfg.seed)
      .fit(ratings)
  }

  /** Typed access to the winning ALS config (replaces `als.py:74-79`). */
  def bestAls(cv: CrossValidatorModel): ALSModel =
    cv.bestModel.asInstanceOf[ALSModel]

  /** Item-item co-occurrence neighbors ("users who rated X also rated
    * Y") — the memory-based CF baseline next to the reference's
    * model-based ALS, and the op every recommender serves as
    * related-items. Cosine over binary co-occurrence:
    * `c12 / sqrt(c1·c2)`, plus Jaccard `c12 / (c1+c2−c12)`; top-`topK`
    * neighbors per item by (cosine, neighbor-id) — ranking on the
    * ROUNDED score keeps the order cross-engine stable.
    *
    * 100 TB shape — the interaction-cut discipline: each user's item
    * list is capped at `cap` DETERMINISTICALLY (the `cap` smallest item
    * ids, a stated semantic both engines implement identically, not a
    * sample), so the quadratic per-user pair expansion is bounded at
    * O(cap²) and a power user cannot melt a reducer — the same
    * blast-radius bound as Dedup.bucketPairs, whose sorted-array HOF
    * expansion this reuses (one groupBy, no self-join of the
    * interaction table). Item counts are computed AFTER the cap so
    * cosine/Jaccard stay internally consistent. `minSupport` drops
    * pairs co-occurring fewer than that many times BEFORE the
    * symmetrize/score/rank stages (the association-mining min-support
    * rule: a single co-occurrence is noise, and on a sparse corpus it
    * is also ~95% of the candidate pairs — measured 11.0M → 0.32M at
    * sf0.1). One shuffle for the per-user grouping, one for pair
    * counts, one bounded top-k window on the high-cardinality item id.
    *
    * This is a BUILD, not a per-query op — production serves
    * related-items from the materialized output (the fit/serve split
    * every index in this repo follows); PipelineQueries memoizes it per
    * scale dir and Bench prices the build in its fit section.
    */
  /** The deterministic interaction cut shared by the neighbor build and
    * its serving consumers: each user's `cap` SMALLEST item ids — a
    * stated semantic (not a sample), so oracles implement it exactly
    * and a power user's quadratic expansion is bounded at O(cap²).
    * Recommenders persist THIS snapshot next to the index they build
    * from it (PipelineQueries.itemIndexDir) so serving votes/exclusions
    * use the same interaction state the index saw.
    */
  def cappedInteractions(ratings: DataFrame, cap: Int = 30): DataFrame = {
    val wUser = Window.partitionBy(col("userId")).orderBy(col("movieId"))
    ratings.select(col("userId"), col("movieId")).distinct()
      // pin the cap-window exchange width: the distinct exchange is
      // byte-tiny, so AQE coalesced it and the window (and the pair
      // expansion built on it in itemNeighbors) ran on 1-2 tasks
      .repartition(ratings.sparkSession.sessionState.conf
        .numShufflePartitions, col("userId"))
      .withColumn("__rn", row_number().over(wUser))
      .filter(col("__rn") <= cap).drop("__rn")
  }

  def itemNeighbors(ratings: DataFrame, cap: Int = 30,
                    topK: Int = 5, minSupport: Long = 2L): DataFrame = {
    val capped = cappedInteractions(ratings, cap)
    val itemCnt = capped.groupBy(col("movieId")).agg(count(lit(1)).as("c"))
    // the pair-count exchange is ~97%-unique keys on a sparse corpus, so
    // AQE's size-based coalescing would fold it onto a few fat tasks
    // (row count, not byte count, is the cost here) — pin the width to
    // the session's shuffle parallelism
    val shuffleN = ratings.sparkSession.sessionState.conf.numShufflePartitions
    val pairs = capped.groupBy(col("userId"))
      .agg(sort_array(collect_set(col("movieId"))).as("ids"))
      .filter(size(col("ids")) > 1)
      .select(explode(flatten(transform(col("ids"), (x, i) =>
        transform(slice(col("ids"), i + 2, size(col("ids"))),
          y => struct(x.as("m1"), y.as("m2")))))).as("p"))
      .repartition(shuffleN, col("p.m1"), col("p.m2"))
      .groupBy(col("p.m1").as("m1"), col("p.m2").as("m2"))
      .agg(count(lit(1)).as("c12"))
      .filter(col("c12") >= minSupport)
    // symmetrize in ONE pass (explode of a 2-struct array — a self-union
    // would evaluate the pair-count subtree twice), then attach counts
    val sym = pairs.select(explode(array(
        struct(col("m1").as("item"), col("m2").as("nbr"), col("c12")),
        struct(col("m2").as("item"), col("m1").as("nbr"), col("c12")))).as("e"))
      .select(col("e.item").as("item"), col("e.nbr").as("nbr"),
        col("e.c12").as("c12"))
    val scored = sym
      .join(itemCnt.select(col("movieId").as("item"), col("c").as("c1")),
        Seq("item"))
      .join(itemCnt.select(col("movieId").as("nbr"), col("c").as("c2")),
        Seq("nbr"))
      .select(col("item"), col("nbr"), col("c12"),
        round(col("c12") / sqrt(col("c1") * col("c2")), 6).as("cosine"),
        round(col("c12") / (col("c1") + col("c2") - col("c12")), 6)
          .as("jaccard"))
    val wItem = Window.partitionBy(col("item"))
      .orderBy(col("cosine").desc, col("nbr"))
    scored.withColumn("rn", row_number().over(wItem).cast("long"))
      .filter(col("rn") <= topK)
  }
}
