package graft.queries

import graft.Tables
import graft.functions.ExactRatio.{ratio6, ratio6Sql}
import graft.operators.{Eval, Popularity, Recommend, Split}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The reference's full pipeline — split → popularity/ALS → ranking eval —
  * as verifiable queries (SURVEY §2.5, §2.8, §2.9; §3 lifecycle).
  *
  * Eval queries use the deterministic hash split (`movieId % 10`:
  * 0-5 train, 6-7 validation, 8-9 test) so the whole pipeline is
  * reproducible in the DuckDB oracle; the seeded random splits (T1/T3)
  * are verified by invariant reports + scalatest instead (SURVEY §7.4
  * risk 1: seeded sampling never value-matches across engines).
  */
object PipelineQueries {

  private val K = 100

  /** 80/20 interaction-level split: deterministic content hash, every user
    * and item can appear on both sides (what a factor model needs).
    */
  private def interactionSplit(r: DataFrame): (DataFrame, DataFrame) = {
    val b = pmod(xxhash64(lit(7), col("userId"), col("movieId")), lit(10))
    (r.filter(b < 8), r.filter(b >= 8))
  }

  /** The train side of [[interactionSplit]] — exposed so Bench can price
    * the ALS fit on exactly the input the q_als_* queries consume.
    */
  private[graft] def alsTrainInput(s: SparkSession, d: String): DataFrame =
    interactionSplit(Tables.ratings(s, d))._1

  /** Fitted ALS models as PERSISTED artifacts, memoized per
    * (scale dir, config) — the reference's flagship build artifact
    * (`als.py:87`, the ~30-min cluster fit it recomputes every run) goes
    * through [[graft.operators.Artifacts.loadOrFitAls]]: first demand in
    * a process fits once and saves; any later process over the same
    * (data, config) loads the factor matrices instead of refitting
    * (warm-restart no-refit is spec-asserted in RecommendSpec). The fit
    * is deterministic given (data, config, seed) — ALS blocking is fixed
    * by numUserBlocks/numItemBlocks, not cluster parallelism — so a
    * loaded model serves bit-identical recommendations.
    */
  private lazy val alsRoot =
    java.nio.file.Files.createTempDirectory("graft_als_artifacts").toString
  private val alsModels = scala.collection.concurrent.TrieMap
    .empty[String, org.apache.spark.ml.recommendation.ALSModel]
  private[graft] def alsModel(s: SparkSession, d: String,
      cfg: Recommend.AlsConfig): org.apache.spark.ml.recommendation.ALSModel =
    alsModels.getOrElseUpdate(s"$d|$cfg", {
      val dir = new java.io.File(alsRoot,
        java.security.MessageDigest.getInstance("MD5")
          .digest(s"$d|$cfg".getBytes("UTF-8"))
          .map("%02x".format(_)).mkString).getPath
      graft.operators.Artifacts.loadOrFitAls(s, dir)(
        Recommend.train(alsTrainInput(s, d), cfg))
    })

  private def hashSplit(r: DataFrame) = (
    r.filter(pmod(col("movieId"), lit(10)) < 6),
    r.filter(pmod(col("movieId"), lit(10)).isin(6, 7)),
    r.filter(pmod(col("movieId"), lit(10)) >= 8))

  /** Popularity top-100 of the train partition, ranked on the ROUNDED score
    * so rank boundaries can't flip on sub-1e-6 cross-engine float drift.
    *
    * Shape: the top-K rows are selected FIRST via `orderBy().limit(K)`
    * (TakeOrderedAndProject — per-partition bounded heaps + driver merge,
    * never a global sort), and only that ≤K-row set goes through the
    * global ranking window. A WindowExec with an empty partition spec is
    * single-partition by definition, which is fine over K rows and fatal
    * over a catalog — bounding before ranking is the 100 TB-safe order.
    */
  private def rankedTop100(train: DataFrame): DataFrame =
    Popularity.scoreAll(Popularity.aggRatings(train),
      expr("percentile(user_count, 0.9)"))
      .withColumn("score_r", round(col("score"), 6))
      .orderBy(col("score_r").desc, col("movieId"))
      .limit(K)
      .withColumn("rank",
        row_number().over(Window.orderBy(col("score_r").desc, col("movieId"))).cast("long"))
      .select(col("movieId"), col("rank"))

  /** Each user's own top-10 train items by mean rating (ties → movieId)
    * — the deterministic per-user recs of the MAP/precision/MRR checks. */
  private def ownTop10(train: DataFrame): DataFrame = {
    val dedup = train.groupBy(col("userId"), col("movieId"))
      .agg(avg(col("rating")).as("r"))
    Recommend.topKPerKey(dedup, "userId",
      Seq(col("r").desc, col("movieId")), 10)
      .select(col("userId"), col("movieId"), col("rank"))
  }

  // oracle fragment: same ranked top-100 in ANSI SQL
  private val rankedTop100Sql =
    s"""agg AS (
       |  SELECT movieId, AVG(rating) AS avg_rating, COUNT(userId) AS user_count
       |  FROM train GROUP BY movieId
       |),
       |stats AS (
       |  SELECT AVG(avg_rating) AS m, quantile_cont(user_count, 0.9) AS q FROM agg
       |),
       |scored AS (
       |  SELECT movieId,
       |    ROUND((user_count/(user_count+q))*avg_rating + (q/(q+user_count))*m, 6) AS score_r
       |  FROM agg, stats WHERE user_count >= q
       |),
       |top100 AS (
       |  SELECT movieId,
       |    CAST(ROW_NUMBER() OVER (ORDER BY score_r DESC, movieId) AS BIGINT) AS rank
       |  FROM scored
       |  QUALIFY rank <= $K
       |)""".stripMargin

  /** The oracles' twin of [[ownTop10]] over `train`, plus the
    * validation labels: `recs(userId, movieId, rank)` and
    * `labels(userId, movieId)`. */
  private val ownTop10Sql =
    """dedup AS (
      |  SELECT userId, movieId, AVG(rating) AS r
      |  FROM train GROUP BY userId, movieId
      |),
      |recs AS (
      |  SELECT userId, movieId,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY userId
      |      ORDER BY r DESC, movieId) AS BIGINT) AS rank
      |  FROM dedup QUALIFY rank <= 10
      |),
      |labels AS (SELECT DISTINCT userId, movieId FROM val)""".stripMargin

  private val splitSql =
    s"""${Tables.ratingsSql},
       |train AS (SELECT * FROM ratings WHERE movieId % 10 < 6),
       |val AS (SELECT * FROM ratings WHERE movieId % 10 IN (6,7))""".stripMargin

  /** At-rest item-neighbor index per scale dir — published through the
    * crash-safe versioned artifact store (Artifacts.saveItemIndex:
    * `_LATEST`-resolved, index + its source interaction snapshot as ONE
    * version) so a restarted serving job loads the fitting run's index
    * instead of silently refitting against whatever the ratings now are
    * — the same discipline as ALS/IVF-PQ/BPE/quality-LR/BM25. Built
    * once per (process, dir); nobody recounts 6M co-occurrence pairs
    * per request. Values are partition-independent (exact integer
    * counts → 6dp-rounded scores), so the index is a pure function of
    * the data.
    */
  private val itemIndexRoots =
    scala.collection.concurrent.TrieMap.empty[String, String]
  private[graft] def itemIndex(
      s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val root = itemIndexRoots.getOrElseUpdate(d,
      java.nio.file.Files.createTempDirectory("graft_item_idx").toString)
    graft.operators.Artifacts.loadOrBuildItemIndex(s, root,
      Tables.ratings(s, d))
  }

  /** ONE MAP@10 oracle body for the DataFrame (`q_eval_map_std`) and
    * RDD-RankingMetrics (`q_eval_map_mllib`) forms — they compute the
    * same metric by construction (EvalSpec asserts equality), so only
    * the output alias differs.
    */
  private def mapAtKOracle(alias: String): String =
    s"""WITH $splitSql,
       |$ownTop10Sql,
       |nlab AS (SELECT userId, COUNT(*) AS n FROM labels GROUP BY userId),
       |hits AS (
       |  SELECT r.userId, r.rank,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY r.userId ORDER BY r.rank) AS BIGINT) AS i
       |  FROM recs r JOIN labels l ON r.userId = l.userId AND r.movieId = l.movieId
       |),
       |sp AS (SELECT userId, SUM(CAST(i AS DOUBLE)/rank) AS s FROM hits GROUP BY userId)
       |SELECT ROUND(AVG(COALESCE(s, 0.0)/LEAST(n, 10)), 6) AS $alias
       |FROM nlab LEFT JOIN sp USING (userId)""".stripMargin

  val declarations: Seq[Query] = Seq(
    // Deterministic hash-split label counts (scale-safe replacement for the
    // reference's driver-built IN-lists, split_script.py:27-40).
    Query("q_split_hash", (s, d) => {
      Split.labelByHash(Tables.ratings(s, d), "movieId")
        .groupBy(col("train_val_test"))
        .agg(count(lit(1)).as("n"), countDistinct(col("movieId")).as("n_movies"))
        .orderBy(col("train_val_test"))
    }, Sql(
      s"""WITH ${Tables.ratingsSql}
         |SELECT CASE WHEN movieId % 10 < 6 THEN 'train'
         |            WHEN movieId % 10 < 8 THEN 'validation'
         |            ELSE 'test' END AS train_val_test,
         |  COUNT(*) AS n, COUNT(DISTINCT movieId) AS n_movies
         |FROM ratings GROUP BY 1 ORDER BY train_val_test""".stripMargin)),

    // Reference v2 split (seeded per-user 25%/25%, new_split_script.py) —
    // distributed; verified by its invariants (1 row, overlaps must be 0;
    // no value oracle possible for seeded sampling).
    Query("q_split_v2_report", (s, d) => {
      val r = Tables.ratings(s, d)
        .groupBy(col("userId"), col("movieId")).agg(avg(col("rating")).as("rating"))
      val (train, validation, test) = Split.splitV2(r, 0.25, 1234L)
      Split.disjointnessReport(train, validation, test, Seq("userId", "movieId"))
    }, Exempt("seeded per-user sample; disjointness invariants (1 row, zeros)"), headline = false),

    // T1: stratified sampleBy + T2 exceptAll (split_script.py v1 shape),
    // seeded — invariant report: holdout + sample partition the labeled set.
    // Built directly on the lineitem scan (no shuffle upstream of sampleBy)
    // so the seeded sample is stable under lazy re-evaluation.
    Query("q_split_v1_report", (s, d) => {
      val labeled = Split.labelByHash(
        Tables.lineitem(s, d).select(col("l_partkey").as("movieId"),
          col("l_orderkey"), col("l_linenumber")), "movieId")
      val sampled = Split.sampleByLabel(labeled, "train_val_test",
        Map("train" -> 1.0, "validation" -> 0.3, "test" -> 0.3), 1234L)
      val holdout = labeled.exceptAll(sampled)
      val spark = s
      import spark.implicits._
      sampled.agg(count(lit(1)).as("n_sampled"))
        .crossJoin(holdout.agg(count(lit(1)).as("n_holdout")))
        .crossJoin(labeled.agg(count(lit(1)).as("n_total")))
        .select(col("n_sampled"), col("n_holdout"), col("n_total"),
          (col("n_sampled") + col("n_holdout") - col("n_total")).as("partition_violation"))
    }, Exempt(
      "seeded sampleBy never value-matches cross-engine; partition invariant"), headline = false),

    // Deterministic arithmetic-hash sampling (Split.hashSample): ~10% of
    // ratings by (userId, movieId) content — reproducible in ANSI SQL, so
    // the SAMPLED pipeline itself is oracle-checked (impossible with
    // rand/sample, SURVEY §7.4 risk 1).
    Query("q_hash_sample", (s, d) => {
      Split.hashSample(Tables.ratings(s, d),
        Seq(col("userId"), col("movieId")), 0.1)
        .agg(count(lit(1)).as("n"),
          countDistinct(col("userId")).as("n_users"),
          round(sum(col("rating")), 6).as("sum_rating"))
    }, Sql(
      s"""WITH ${Tables.ratingsSql}
         |SELECT COUNT(*) AS n,
         |  COUNT(DISTINCT userId) AS n_users,
         |  ROUND(SUM(rating), 6) AS sum_rating
         |FROM ratings
         |WHERE (userId * 2654435761 + movieId * 40503) % 10000 < 1000""".stripMargin),
      headline = false),

    // Typed COGROUP: per-user merge of two differently-shaped relations
    // (ratings ⊞ events) in one custom function — the Scala analogue of
    // applyInPandas over cogrouped frames. Both sides shuffle once on the
    // key; the merge closure sees each user's rows from both inputs.
    // Deterministic outputs (counts + sums) → DuckDB-oracled.
    Query("q_cogroup", (s, d) => {
      val spark = s
      import spark.implicits._
      val r = Tables.ratings(s, d).select(col("userId"), col("rating"))
        .as[(Long, Double)].groupByKey(_._1)
      val e = Tables.events(s, d)
        .select(col("user_id"), col("value")).as[(Long, Double)]
        .groupByKey(_._1)
      r.cogroup(e) { (uid, ratings, events) =>
        var nr = 0L; var sr = 0.0
        ratings.foreach { t => nr += 1; sr += t._2 }
        var ne = 0L; var se = 0.0
        events.foreach { t => ne += 1; se += t._2 }
        Iterator((uid, nr, sr, ne, se))
      }.toDF("userId", "n_ratings", "sum_rating_raw", "n_events", "sum_value_raw")
        .select(col("userId"), col("n_ratings"),
          round(col("sum_rating_raw"), 6).as("sum_rating"),
          col("n_events"), round(col("sum_value_raw"), 6).as("sum_value"))
        .orderBy(col("userId"))
    }, Sql(
      s"""WITH ${Tables.ratingsSql},
         |r AS (SELECT userId, COUNT(*) AS n_ratings,
         |        ROUND(SUM(rating), 6) AS sum_rating
         |      FROM ratings GROUP BY userId),
         |e AS (SELECT user_id AS userId, COUNT(*) AS n_events,
         |        ROUND(SUM(value), 6) AS sum_value
         |      FROM events GROUP BY user_id)
         |SELECT COALESCE(r.userId, e.userId) AS userId,
         |  COALESCE(n_ratings, 0) AS n_ratings,
         |  COALESCE(sum_rating, CAST(0.0 AS DOUBLE)) AS sum_rating,
         |  COALESCE(n_events, 0) AS n_events,
         |  COALESCE(sum_value, CAST(0.0 AS DOUBLE)) AS sum_value
         |FROM r FULL OUTER JOIN e ON r.userId = e.userId
         |ORDER BY userId""".stripMargin), headline = false),

    // U3 global hit-ratio of popularity recs (popularity_model.py:67,76).
    Query("q_eval_hit_ratio", (s, d) => {
      val (train, v, _) = hashSplit(Tables.ratings(s, d))
      Eval.hitRatioGlobal(v, rankedTop100(train))
    }, Sql(
      s"""WITH $splitSql,
         |$rankedTop100Sql
         |SELECT ROUND(AVG(CASE WHEN movieId IN (SELECT movieId FROM top100)
         |                      THEN 1.0 ELSE 0.0 END), 6) AS hit_ratio
         |FROM val""".stripMargin)),

    // U2 global reference-mAP (popularity_model.py:68,77 — quirky formula
    // replicated exactly).
    Query("q_eval_map_ref", (s, d) => {
      val (train, v, _) = hashSplit(Tables.ratings(s, d))
      Eval.referenceMapGlobal(v, rankedTop100(train), K)
    }, Sql(
      s"""WITH $splitSql,
         |$rankedTop100Sql
         |SELECT ROUND(AVG(COALESCE((1.0 + 1.0/t.rank)/$K.0, 0.0)), 6) AS map_ref
         |FROM val v LEFT JOIN top100 t ON v.movieId = t.movieId""".stripMargin), headline = false),

    // U2 per-user reference-mAP (the ALS eval path als.py:115-133).
    Query("q_eval_map_user", (s, d) => {
      val (train, v, _) = hashSplit(Tables.ratings(s, d))
      Eval.referenceMapPerUser(v, rankedTop100(train), K)
    }, Sql(
      s"""WITH $splitSql,
         |$rankedTop100Sql,
         |per_user AS (
         |  SELECT v.userId, AVG(COALESCE((1.0 + 1.0/t.rank)/$K.0, 0.0)) AS ap
         |  FROM val v LEFT JOIN top100 t ON v.movieId = t.movieId
         |  GROUP BY v.userId
         |)
         |SELECT ROUND(AVG(ap), 6) AS map_ref_user FROM per_user""".stripMargin)),

    // Standard MAP@10 (M7 cross-check): per-user recs = user's own top-10
    // train items — deterministic, exercises window top-k + hit ranking.
    Query("q_eval_map_std", (s, d) => {
      val (train, v, _) = hashSplit(Tables.ratings(s, d))
      val recs = ownTop10(train)
      Eval.standardMapAtK(v, recs, 10)
    }, Sql(mapAtKOracle("map_at_k"))),

    // precision@k (extension.py:167,174,181 — the one reference-published
    // metric family previously without an engine twin): per-user form at
    // k=10 over the deterministic per-user top-10 recs, global form at
    // k=100 over the popularity top-100 vs the validation slice. One row,
    // both columns, fully DuckDB-oracled.
    Query("q_eval_precision_k", (s, d) => {
      val (train, v, _) = hashSplit(Tables.ratings(s, d))
      val recs = ownTop10(train)
      Eval.precisionAtKPerUser(v, recs, 10)
        .crossJoin(Eval.precisionAtKGlobal(v, rankedTop100(train), K))
    }, Sql(
      s"""WITH $splitSql,
         |$rankedTop100Sql,
         |$ownTop10Sql,
         |hits AS (
         |  SELECT r.userId, COUNT(*) AS n_hits
         |  FROM recs r JOIN labels l ON r.userId = l.userId AND r.movieId = l.movieId
         |  GROUP BY r.userId
         |),
         |pu AS (
         |  SELECT ROUND(AVG(COALESCE(h.n_hits, 0) / 10.0), 6) AS precision_user
         |  FROM (SELECT DISTINCT userId FROM labels) u
         |  LEFT JOIN hits h ON u.userId = h.userId
         |),
         |pg AS (
         |  SELECT ROUND(COUNT(DISTINCT v.movieId) / $K.0, 6) AS precision_global
         |  FROM val v JOIN top100 t ON v.movieId = t.movieId
         |)
         |SELECT precision_user, precision_global FROM pu, pg""".stripMargin)),

    // Mean reciprocal rank @10 (the eval-family member MAP/hit/precision
    // lacked) — EXACT: 1/rank for rank ∈ 1..10 carried as the integer
    // 2520/rank (2520 = lcm(1..10), so every reciprocal is a whole
    // number of 1/2520 units); MRR = Σ units / (2520·n_users) is ONE
    // exact integer ratio (ratio6) — zero float ops. Users with labels
    // but no hit contribute 0 (the standard convention).
    Query("q_eval_mrr", (s, d) => {
      val (train, v, _) = hashSplit(Tables.ratings(s, d))
      val recs = ownTop10(train)
      val labels = v.select(col("userId"), col("movieId")).distinct()
      val firstHit = recs.join(labels, Seq("userId", "movieId"))
        .groupBy(col("userId")).agg(min(col("rank")).as("fr"))
      labels.select(col("userId")).distinct()
        .join(firstHit, Seq("userId"), "left")
        .agg(count(lit(1)).as("n_users"),
          sum(when(col("fr").isNotNull, 1L).otherwise(0L)).as("n_hit"),
          sum(when(col("fr").isNotNull, expr("2520 DIV fr"))
            .otherwise(0L)).as("units"))
        .select(col("n_users"), col("n_hit"),
          ratio6(col("units"), lit(2520L) * col("n_users")).as("mrr_r"))
    }, Sql(
      // the same recs/labels relations; 2520//fr integer reciprocals
      s"""WITH $splitSql,
         |$ownTop10Sql,
         |fh AS (
         |  SELECT r.userId, MIN(r.rank) AS fr
         |  FROM recs r JOIN labels l
         |    ON r.userId = l.userId AND r.movieId = l.movieId
         |  GROUP BY 1),
         |u AS (SELECT DISTINCT userId FROM labels)
         |SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
         |  CAST(SUM(CASE WHEN fr IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_hit,
         |  ${ratio6Sql(
             "SUM(CASE WHEN fr IS NOT NULL THEN 2520 // fr ELSE 0 END)",
             "2520 * COUNT(*)")} AS mrr_r
         |FROM u LEFT JOIN fh USING (userId)""".stripMargin)),

    // U4 quirk replica: reference's swapped-argument mAP (als.py:128-131
    // passes ground truth as top_k) — deterministic sorted-label order.
    Query("q_eval_map_swapped", (s, d) => {
      val (train, v, _) = hashSplit(Tables.ratings(s, d))
      Eval.referenceMapPerUserSwapped(v, rankedTop100(train), K)
    }, Sql(
      s"""WITH $splitSql,
         |$rankedTop100Sql,
         |label_ranked AS (
         |  SELECT userId, movieId,
         |    CAST(ROW_NUMBER() OVER (PARTITION BY userId ORDER BY movieId) AS BIGINT) AS lrank
         |  FROM (SELECT DISTINCT userId, movieId FROM val)
         |),
         |nlab AS (SELECT userId, COUNT(*) AS n_labels FROM label_ranked GROUP BY userId),
         |hits AS (
         |  SELECT l.userId, SUM(1.0 + 1.0/l.lrank) AS sum_raw
         |  FROM top100 t JOIN label_ranked l ON t.movieId = l.movieId
         |  GROUP BY l.userId
         |)
         |SELECT ROUND(AVG(COALESCE(h.sum_raw, 0.0) / n.n_labels / $K.0), 6) AS map_ref_swapped
         |FROM nlab n LEFT JOIN hits h ON n.userId = h.userId""".stripMargin), headline = false),

    // M7: standard MAP@10 via mllib RankingMetrics (the API the reference
    // imported then abandoned, als.py:3) — cross-checks q_eval_map_std.
    // RDD-based → rows-only; equality with the column form asserted in
    // scalatest.
    Query("q_eval_map_mllib", (s, d) => {
      val (train, v, _) = hashSplit(Tables.ratings(s, d))
      val recs = ownTop10(train)
      Eval.rankingMetricsMapAtK(v, recs, 10)
    }, Sql(
      // DE-EXEMPTED r12: the RDD RankingMetrics form is asserted EQUAL to
      // the DataFrame standardMapAtK in EvalSpec, so it takes the SAME
      // oracle (the q_decontaminate_bloom same-oracle pattern) modulo the
      // output alias — the gate now checks the equality cross-engine too
      mapAtKOracle("map_at_k_mllib")), headline = false),

    // M1-M4: ALS train→predict→RMSE (als.py:87-107). The split here is at
    // the INTERACTION level (hash of user+item), not by movieId — an
    // item-disjoint split makes every test item cold-start and
    // coldStartStrategy=drop would drop all predictions (RMSE of nothing).
    // Not SQL-expressible → rows-only check + scalatest metric bands.
    Query("q_als_rmse", (s, d) => {
      val (_, test) = interactionSplit(Tables.ratings(s, d))
      val model = alsModel(s, d,
        Recommend.AlsConfig(rank = 32, maxIter = 3, regParam = 0.15))
      Eval.rmse(Recommend.predict(model, test))
    }, Exempt(
      "ALS factors not SQL-expressible; RMSE band in RecommendSpec/IngestSpec"), headline = false),

    // The COMPLETE reference lifecycle in one query (als.py:87-133):
    // fit → recommendForAllUsers → distributed MAP@k of the recs against
    // the held-out interactions. Rows-only (ALS factors are not
    // SQL-expressible); the eval math itself is the oracle-verified
    // standardMapAtK.
    Query("q_als_map", (s, d) => {
      val (_, test) = interactionSplit(Tables.ratings(s, d))
      val model = alsModel(s, d,
        Recommend.AlsConfig(rank = 32, maxIter = 3, regParam = 0.15))
      val recs = Recommend.recommendTopK(model, 10)
        .select(col("userId"), col("movieId"), col("rank"))
      Eval.standardMapAtK(test, recs, 10)
    }, Exempt(
      "ALS lifecycle; MAP math itself oracled via q_eval_map_std, band in IngestSpec"),
      headline = false),

    // M1-M3 at the reference's EXACT flagship hyperparameters (als.py:36-46:
    // rank=100, maxIter=3, regParam=0.15, nonnegative, coldStart=drop) —
    // the rank=32 variants above exist for bench speed; this query closes
    // the loop on the published config. Output carries the config columns
    // so the claim is self-describing. Published MovieLens RMSE was
    // 0.87–0.90 (Checkpoint_results.md:13, final_report_numbers.md:6);
    // the synthetic ratings here have different variance, so the value
    // band is asserted in scalatest, not against the MovieLens number.
    Query("q_als_ref_rmse", (s, d) => {
      val (_, test) = interactionSplit(Tables.ratings(s, d))
      val model = alsModel(s, d, Recommend.AlsConfig()) // reference defaults
      Eval.rmse(Recommend.predict(model, test))
        .select(lit(100).as("rank"), lit(3).as("max_iter"),
          lit(0.15).as("reg_param"), round(col("rmse"), 6).as("rmse"))
    }, Exempt(
      "ALS at flagship config; config columns exact + RMSE band in IngestSpec"), headline = false),

    // M4: per-user top-5 recommendations, flat rows (als.py:96,120).
    Query("q_als_recs", (s, d) => {
      val model = alsModel(s, d,
        Recommend.AlsConfig(rank = 32, maxIter = 3, regParam = 0.15))
      Recommend.recommendTopK(model, 5)
        .filter(col("userId") < 100)
        .select(col("userId"), col("movieId"), col("rank"))
        .orderBy(col("userId"), col("rank"))
    }, Exempt(
      "ALS factors not SQL-expressible; block-structure recall in RecommendSpec"),
      headline = false),

    // Item-item co-occurrence neighbors (Recommend.itemNeighbors) — the
    // memory-based related-items baseline next to ALS, with the
    // interaction-cut (deterministic 30-item user cap) and min-support 2
    // bounding the quadratic expansion. Served from the per-dir
    // materialized index (the fit/serve split: the pair-count build is
    // priced in Bench's fit section as q_item_fit).
    Query("q_item_neighbors", (s, d) => {
      itemIndex(s, d)._1.orderBy(col("item"), col("rn"))
    }, Sql(
      // the cap (30 smallest movieIds per user) and min-support (>= 2
      // co-occurrences) are stated semantics both engines implement
      // identically — counts are post-cap on both sides
      s"""WITH ${Tables.ratingsSql},
         |$itemIndexCtes
         |SELECT item, nbr, c12, cosine, jaccard, rn
         |FROM idx ORDER BY item, rn""".stripMargin)),

    // Item-based CF recommendations served FROM the materialized index:
    // each user's capped items vote for their index neighbors (summed
    // rounded cosine — identical addends cross-engine, sum re-rounded),
    // owned items anti-joined away, top-3 per user. Scale shape: the
    // index is items×5 rows (AQE broadcasts it at this scale; at 100 TB
    // it shuffles on item — both sides key-partitioned, no fan-out
    // beyond cap×5 candidates per user); the per-user top-k window
    // partitions on the high-cardinality userId.
    Query("q_item_recs", (s, d) => {
      // the SAME interaction snapshot the index was built from — voting
      // and exclusion must not race a fresher ratings scan (the two are
      // one published artifact version)
      val (idx, capped) = itemIndex(s, d)
      // the (user, candidate) vote aggregation has mostly-unique keys
      // (≤ cap×topK candidates per user, few repeat voters) — pin the
      // exchange width like the fit's pair count, or AQE's byte-based
      // coalescing folds the row-count-bound work onto a few fat tasks
      val shuffleN = s.sessionState.conf.numShufflePartitions
      val votes = capped.join(idx, capped("movieId") === idx("item"))
        .repartition(shuffleN, col("userId"), col("nbr"))
        .groupBy(col("userId"), col("nbr"))
        .agg(round(sum(col("cosine")), 6).as("score"),
          count(lit(1)).as("n_voters"))
        .withColumnRenamed("nbr", "movieId")
      val wr = Window.partitionBy(col("userId"))
        .orderBy(col("score").desc, col("movieId"))
      votes.join(capped, Seq("userId", "movieId"), "left_anti")
        // re-select: using-columns anti-join reorders the schema (r7 trap)
        .select(col("userId"), col("movieId"), col("score"), col("n_voters"))
        .withColumn("rn", row_number().over(wr).cast("long"))
        .filter(col("rn") <= 3)
        .orderBy(col("userId"), col("rn"))
    }, Sql(
      // item-based CF serving: each user's capped items vote for their
      // index neighbors (summed rounded cosine — identical addends on
      // both engines), owned items excluded, top-3 per user
      s"""WITH ${Tables.ratingsSql},
         |$itemIndexCtes,
         |votes AS (
         |  SELECT c.userId, i.nbr AS movieId,
         |    ROUND(SUM(i.cosine), 6) AS score, COUNT(*) AS n_voters
         |  FROM capped c JOIN idx i ON c.movieId = i.item
         |  GROUP BY 1, 2
         |), unseen AS (
         |  SELECT v.* FROM votes v
         |  WHERE NOT EXISTS (SELECT 1 FROM capped c2
         |                    WHERE c2.userId = v.userId
         |                      AND c2.movieId = v.movieId)
         |)
         |SELECT userId, movieId, score, n_voters, CAST(rn AS BIGINT) AS rn
         |FROM (SELECT *, ROW_NUMBER() OVER (
         |        PARTITION BY userId ORDER BY score DESC, movieId) AS rn
         |      FROM unseen)
         |WHERE rn <= 3 ORDER BY userId, rn""".stripMargin)),

    // Association rules over the served neighbor lists (a stated
    // semantic: rules for pairs the index retained — top-5 by cosine,
    // min-support 2): directed confidence c12/c(antecedent) and lift
    // c12·U/(c1·c2), global top-100 by (rounded lift, antecedent,
    // consequent) — TakeOrdered over the items×5 index, no corpus
    // rescan beyond the artifact's own counts; U is one scalar
    // aggregate (the pagerank-count precedent).
    Query("q_item_rules", (s, d) => {
      val (idx, capped) = itemIndex(s, d)
      val cnt = capped.groupBy(col("movieId")).agg(count(lit(1)).as("c"))
      val nUsers = capped.select(col("userId")).distinct().count()
      idx.select(col("item"), col("nbr"), col("c12"))
        .join(cnt.select(col("movieId").as("item"), col("c").as("c1")),
          Seq("item"))
        .join(cnt.select(col("movieId").as("nbr"), col("c").as("c2")),
          Seq("nbr"))
        .select(col("item").as("antecedent"), col("nbr").as("consequent"),
          col("c12"),
          ratio6(col("c12"), col("c1")).as("confidence"),
          ratio6(col("c12") * lit(nUsers), col("c1") * col("c2"))
            .as("lift"))
        .orderBy(col("lift").desc, col("antecedent"), col("consequent"))
        .limit(100)
    }, Sql(
      s"""WITH ${Tables.ratingsSql},
         |$itemIndexCtes,
         |u AS (SELECT CAST(COUNT(DISTINCT userId) AS BIGINT) AS nu FROM capped)
         |SELECT item AS antecedent, nbr AS consequent, c12,
         |  ${ratio6Sql("c12", "ca.c")} AS confidence,
         |  ${ratio6Sql("c12 * (SELECT nu FROM u)", "ca.c * cb.c")} AS lift
         |FROM idx JOIN cnt ca ON idx.item = ca.movieId
         |         JOIN cnt cb ON idx.nbr = cb.movieId
         |ORDER BY lift DESC, antecedent, consequent LIMIT 100""".stripMargin)),

    // Deterministic negative sampling (the implicit-feedback training-set
    // builder every ranker/retrieval fit needs): per user, k=3 items the
    // user did NOT interact with, drawn from a BOUNDED candidate pool —
    // the top-50 most-popular items (TakeOrdered, broadcast). The pool
    // bound is the scale posture: naive "catalog minus seen" is a
    // users×items cross product (quadratic — the industry failure mode);
    // here the cross join is O(users·50) with the pool broadcast, the
    // anti-join against observed pairs is the one real shuffle, and the
    // per-user pick is a user-PARTITIONED window. The pick is a pure
    // Lehmer-style hash of (user, item) — exact int64 arithmetic on both
    // engines (no engine-specific hash, no RNG), so the sample is
    // reproducible and the oracle computes the identical set.
    Query("q_negative_sample", (s, d) => {
      // pin the observed-pairs relation: THREE consumers read it (the
      // popularity pool, the user dimension, the anti-join probe), and
      // unpinned each re-runs the orders⋈lineitem join + distinct with
      // its own column pruning (6 parquet scans in the plan); one
      // materialized (userId, movieId) relation is strictly narrower
      val obs = Tables.ratings(s, d)
        .select(col("userId"), col("movieId")).distinct()
        .localCheckpoint(true)
      val pool = obs.groupBy(col("movieId")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("movieId")).limit(50)
        .select(col("movieId").as("item"))
      // repartition pin (the Dedup.prefixOf discipline): the user
      // dimension's distinct exchange is byte-tiny, so AQE coalesced it
      // to ONE partition and the ×50 pool expansion + anti-probe hash
      // ran single-task (measured r17: a 287 ms 1-task job)
      val shuffleN = s.sessionState.conf.numShufflePartitions
      val cand = obs.select(col("userId")).distinct()
        .repartition(shuffleN, col("userId"))
        .crossJoin(broadcast(pool))
      val neg = cand.join(obs
          .select(col("userId"), col("movieId").as("item")),
        Seq("userId", "item"), "left_anti")
      val h = (col("userId") * lit(1000003L) + col("item")) % lit(2147483647L) *
        lit(16807L) % lit(2147483647L)
      val w = Window.partitionBy(col("userId")).orderBy(h, col("item"))
      neg.withColumn("rnk", row_number().over(w).cast("long"))
        .filter(col("rnk") <= 3)
        .select(col("userId"), col("item"), col("rnk"))
        .orderBy(col("userId"), col("rnk"))
    }, Sql(
      // pure-arithmetic hash (no engine-specific function) → the exact
      // same per-user negative pick on both engines
      s"""WITH ${Tables.ratingsSql},
         |obs AS (SELECT DISTINCT userId, movieId FROM ratings),
         |pool AS (
         |  SELECT movieId AS item FROM (
         |    SELECT movieId, COUNT(*) AS n FROM obs
         |    GROUP BY 1 ORDER BY n DESC, movieId LIMIT 50)
         |), cand AS (
         |  SELECT u.userId, p.item
         |  FROM (SELECT DISTINCT userId FROM obs) u CROSS JOIN pool p
         |), neg AS (
         |  SELECT c.userId, c.item FROM cand c
         |  WHERE NOT EXISTS (SELECT 1 FROM obs o
         |                    WHERE o.userId = c.userId AND o.movieId = c.item)
         |), rn AS (
         |  SELECT userId, item,
         |    ROW_NUMBER() OVER (PARTITION BY userId ORDER BY
         |      (userId * 1000003 + item) % 2147483647 * 16807 % 2147483647,
         |      item) AS rnk
         |  FROM neg
         |)
         |SELECT userId, item, CAST(rnk AS BIGINT) AS rnk FROM rn
         |WHERE rnk <= 3 ORDER BY userId, rnk""".stripMargin)),

    // Temporal train/test split with a leakage report (the time-based
    // split an offline-eval pipeline must use instead of a random one —
    // random splits leak future interactions into training): interactions
    // before the cutoff train, the rest test, plus the COLD-START counts
    // (users/items whose first interaction is after the cutoff — the
    // rows a model fit on train can only serve by fallback). Cold
    // entities come from a per-entity MIN(ts) aggregate — no anti-join
    // needed, two distributed aggregations and two 1-row scalar attaches.
    Query("q_split_temporal", (s, d) => {
      val cutoff = lit("1999-01-01").cast("timestamp")
      val r = Tables.ratings(s, d)
      val lab = r.withColumn("split",
        when(col("ts") < cutoff, "train").otherwise("test"))
      val stats = lab.groupBy(col("split")).agg(
        count(lit(1)).as("n_ratings"),
        countDistinct(col("userId")).as("n_users"),
        countDistinct(col("movieId")).as("n_items"))
      val coldU = r.groupBy(col("userId")).agg(min(col("ts")).as("f"))
        .agg(sum(when(col("f") >= cutoff, 1L).otherwise(0L))
          .cast("long").as("n_cold_users"))
      val coldI = r.groupBy(col("movieId")).agg(min(col("ts")).as("f"))
        .agg(sum(when(col("f") >= cutoff, 1L).otherwise(0L))
          .cast("long").as("n_cold_items"))
      val cold = coldU.crossJoin(coldI).withColumn("split", lit("test"))
      stats.join(cold, Seq("split"), "left")
        .na.fill(0L, Seq("n_cold_users", "n_cold_items"))
        .select(col("split"), col("n_ratings"), col("n_users"),
          col("n_items"), col("n_cold_users"), col("n_cold_items"))
        .orderBy(col("split"))
    }, Sql(
      s"""WITH ${Tables.ratingsSql},
         |lab AS (
         |  SELECT userId, movieId,
         |    CASE WHEN ts < TIMESTAMP '1999-01-01' THEN 'train'
         |         ELSE 'test' END AS split
         |  FROM ratings
         |), s AS (
         |  SELECT split, COUNT(*) AS n_ratings,
         |    COUNT(DISTINCT userId) AS n_users,
         |    COUNT(DISTINCT movieId) AS n_items
         |  FROM lab GROUP BY 1
         |), cu AS (
         |  SELECT COUNT(*) AS n FROM (
         |    SELECT userId FROM ratings GROUP BY userId
         |    HAVING MIN(ts) >= TIMESTAMP '1999-01-01')
         |), ci AS (
         |  SELECT COUNT(*) AS n FROM (
         |    SELECT movieId FROM ratings GROUP BY movieId
         |    HAVING MIN(ts) >= TIMESTAMP '1999-01-01')
         |)
         |SELECT split, n_ratings, n_users, n_items,
         |  CASE WHEN split = 'test' THEN (SELECT n FROM cu)
         |       ELSE 0 END AS n_cold_users,
         |  CASE WHEN split = 'test' THEN (SELECT n FROM ci)
         |       ELSE 0 END AS n_cold_items
         |FROM s ORDER BY split""".stripMargin)),

    // Quantile normalization (the cross-source feature-alignment pass:
    // map each source's n_chars distribution onto the POOLED
    // distribution, so a length threshold means the same thing for
    // every source). Exact by construction: rank within source r →
    // pooled order statistic at position ceil(r·N/n_s), all integer
    // arithmetic with a full (value, doc_id) tiebreak. Scale shape:
    // NO per-source window anywhere (the q_fuzzy_snm 92-task lesson) —
    // ranks come from Rank.withGlobalRank's range-partitioned global
    // sort on (source, n_chars, doc_id); the per-source offsets are a
    // bounded ≤|sources| broadcast; the pooled lookup is a second
    // range-sorted rank joined on position. The r·N product is LONG —
    // exact to ~3e9 rows·rows; past that the decimal(38,0) twin of this
    // arithmetic is the drop-in (documented, not speculative code).
    Query("q_quantile_norm", (s, d) =>
      graft.operators.Rank.quantileNormalize(
        Tables.documents(s, d), "source", "n_chars", "doc_id", "norm_chars")
        .orderBy(col("doc_id")),
      Sql(
      // per-source rank → pooled order statistic at ceil(r·N/n_s);
      // // is DuckDB's floor division — positives, so it equals Spark's
      // truncating `div`
      """WITH src AS (
        |  SELECT doc_id, source, n_chars,
        |    ROW_NUMBER() OVER (PARTITION BY source
        |      ORDER BY n_chars, doc_id) AS r,
        |    COUNT(*) OVER (PARTITION BY source) AS ns
        |  FROM documents),
        |tot AS (SELECT COUNT(*) AS n FROM documents),
        |pooled AS (
        |  SELECT n_chars AS pv,
        |    ROW_NUMBER() OVER (ORDER BY n_chars, doc_id) AS pr
        |  FROM documents)
        |SELECT s.doc_id, s.source, s.n_chars, p.pv AS norm_chars
        |FROM src s CROSS JOIN tot t
        |JOIN pooled p ON p.pr = (s.r * t.n + s.ns - 1) // s.ns
        |ORDER BY s.doc_id""".stripMargin)),

    // Systematic sampling (every 25th row of the (n_chars, doc_id)
    // total order — the equal-spaced design that guarantees coverage of
    // the whole length distribution, unlike a Bernoulli draw): global
    // rank via Rank.withGlobalRank (range-partitioned, never a
    // single-partition window), keep rank ≡ 1 (mod 25). Deterministic —
    // no RNG — so it value-matches cross-engine, unlike the seeded
    // samples (SURVEY §7.4 risk 1).
    Query("q_sample_systematic", (s, d) => {
      val (ranked, _) = graft.operators.Rank.withGlobalRank(
        Tables.documents(s, d).select(col("doc_id"), col("n_chars")),
        "grank", col("n_chars"), col("doc_id"))
      ranked.filter(pmod(col("grank"), lit(25)) === 1)
        .select(col("doc_id"), col("n_chars"), col("grank"))
        .orderBy(col("grank"))
    }, Sql(
      // every 25th row of the same total order
      """WITH rk AS (
        |  SELECT doc_id, n_chars,
        |    ROW_NUMBER() OVER (ORDER BY n_chars, doc_id) AS grank
        |  FROM documents)
        |SELECT doc_id, n_chars, grank
        |FROM rk WHERE grank % 25 = 1 ORDER BY grank""".stripMargin)),

    // Deterministic fixed-k-per-group reservoir (the ML-pipeline
    // sampler the fraction-based q_hash_sample isn't: exactly 10 docs
    // per source however large the group): rank each doc by its mix64
    // key (the SQL-replayable house hash — bootstrap/walk machinery)
    // inside a per-source window, keep rank ≤ 10. Equivalent to
    // single-pass weighted-reservoir with uniform keys; deterministic,
    // so it VALUE-matches cross-engine, unlike seeded sampleBy.
    Query("q_sample_reservoir", (s, d) => {
      val z = graft.functions.TextHashFunctions.mix64(
        col("doc_id"), lit(0L), lit(0L), seed = 99)
      val docs = Tables.documents(s, d)
        .select(col("source"), col("doc_id"), z.as("zs"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("source")).orderBy(col("zs"), col("doc_id"))
      docs.withColumn("rnk",
          org.apache.spark.sql.functions.row_number().over(w).cast("long"))
        .filter(col("rnk") <= 10)
        .select(col("source"), col("rnk"), col("doc_id"), col("zs"))
        .orderBy(col("source"), col("rnk"))
    }, Sql(
      // the mix64 HUGEINT replay (bootstrap/walk machinery) + the same
      // per-source rank
      {
      val mM = "18446744073709551616"
      val seedT = java.lang.Long.toUnsignedString(99L * 0x9e3779b97f4a7c15L)
      def mm64(a: String, b: String) = TextQueries.mm64(a, b)
      s"""WITH b1 AS (
         |  SELECT source, doc_id,
         |    ($seedT + ${mm64("CAST(doc_id AS HUGEINT)",
                "14029467366897019727")} + 0 + 0) % $mM AS z0
         |  FROM documents),
         |b2 AS (SELECT *, ${mm64("xor(z0, z0 // 1073741824)",
              "13787848793156543929")} AS z1 FROM b1),
         |b3 AS (SELECT *, ${mm64("xor(z1, z1 // 134217728)",
              "10723151780598845931")} AS z2 FROM b2),
         |b4 AS (SELECT *, xor(z2, z2 // 2147483648) AS zz FROM b3),
         |b5 AS (SELECT source, doc_id,
         |    CAST(CASE WHEN zz >= 9223372036854775808
         |      THEN zz - $mM ELSE zz END AS BIGINT) AS zs
         |  FROM b4),
         |r AS (SELECT source, doc_id, zs,
         |    CAST(ROW_NUMBER() OVER (PARTITION BY source
         |      ORDER BY zs, doc_id) AS BIGINT) AS rnk
         |  FROM b5)
         |SELECT source, rnk, doc_id, zs FROM r WHERE rnk <= 10
         |ORDER BY source, rnk""".stripMargin
    }))
  )

  /** The DuckDB twin of the [[Recommend.itemNeighbors]] build (cap 30,
    * min-support 2, top-5 by rounded cosine), shared by the index query
    * and the recs query so the two oracles can never drift. Expects the
    * `ratings` CTE in scope. A `def`, not a `val`: `declarations` above
    * interpolates it during object init, and a val declared below it
    * would still be null at that point (the TextStats clinit lesson).
    */
  private def itemIndexCtes: String =
    """du AS (SELECT DISTINCT userId, movieId FROM ratings),
      |capped AS (
      |  SELECT userId, movieId FROM (
      |    SELECT userId, movieId,
      |      ROW_NUMBER() OVER (PARTITION BY userId ORDER BY movieId) AS rn
      |    FROM du) WHERE rn <= 30
      |), cnt AS (SELECT movieId, COUNT(*) AS c FROM capped GROUP BY 1),
      |pairs AS (
      |  SELECT a.movieId AS m1, b.movieId AS m2, COUNT(*) AS c12
      |  FROM capped a JOIN capped b
      |    ON a.userId = b.userId AND a.movieId < b.movieId
      |  GROUP BY 1, 2
      |  HAVING COUNT(*) >= 2
      |), sym AS (
      |  SELECT m1 AS item, m2 AS nbr, c12 FROM pairs
      |  UNION ALL SELECT m2, m1, c12 FROM pairs
      |), idxscored AS (
      |  SELECT item, nbr, c12,
      |    ROUND(c12 / SQRT(ca.c * cb.c), 6) AS cosine,
      |    ROUND(c12 / (ca.c + cb.c - c12), 6) AS jaccard
      |  FROM sym JOIN cnt ca ON sym.item = ca.movieId
      |           JOIN cnt cb ON sym.nbr = cb.movieId
      |), idx AS (
      |  SELECT item, nbr, c12, cosine, jaccard, CAST(rn AS BIGINT) AS rn
      |  FROM (SELECT *, ROW_NUMBER() OVER (
      |          PARTITION BY item ORDER BY cosine DESC, nbr) AS rn
      |        FROM idxscored)
      |  WHERE rn <= 5
      |)""".stripMargin
}
