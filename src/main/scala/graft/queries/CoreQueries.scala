package graft.queries

import graft.Tables
import graft.functions.ExactRatio.{ratio6, ratio6Sql}
import graft.operators.Popularity
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Core relational queries + their DuckDB oracle SQL (SURVEY §2.1–2.6).
  *
  * Determinism rules (SURVEY §7.4, FIXTURES.md §3):
  *  - every query ends in a total ORDER BY (unique tiebreak);
  *  - monetary/quantity sums are integer "cents" (`BIGINT`) — exact in both
  *    engines regardless of accumulation order;
  *  - doubles only appear when derived from exact sums + one division, or
  *    rounded to 6 digits on BOTH sides;
  *  - timestamps leave as epoch seconds (`BIGINT`) — Spark µs vs DuckDB ns
  *    precision would otherwise mismatch on cast-to-string.
  */
object CoreQueries {

  private def t(s: SparkSession, d: String, name: String) = Tables.load(s, d, name)

  /** Integer-cents column: round(x*100) as BIGINT — exact cross-engine sum. */
  private def cents(c: org.apache.spark.sql.Column) =
    round(c * 100, 0).cast("long")

  val declarations: Seq[Query] = Seq(
    // A1/A2-style pricing summary (TPC-H Q1 shape): group-agg with
    // map-side partial combine; single shuffle on the 6-value group key.
    Query("q1_agg", (s, d) => {
      t(s, d, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(cents(col("l_quantity"))).as("sum_qty_c"),
          sum(cents(col("l_extendedprice"))).as("sum_base_c"),
          sum(cents(col("l_extendedprice") * (lit(1.0) - col("l_discount")))).as("sum_disc_c"),
          count(lit(1)).as("n"),
          // discounts are 2-dp values: Σcents/(100·n) is the EXACT mean,
          // rounded in integer arithmetic (no double-sum order, no
          // ROUND(DOUBLE) seam — ExactRatio scaladoc)
          ratio6(sum(cents(col("l_discount"))), count(lit(1)) * 100)
            .as("avg_disc"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    }, Sql(
      s"""SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(ROUND(l_quantity*100) AS BIGINT)) AS BIGINT) AS sum_qty_c,
        |  CAST(SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT)) AS BIGINT) AS sum_base_c,
        |  CAST(SUM(CAST(ROUND(l_extendedprice*(1.0-l_discount)*100) AS BIGINT)) AS BIGINT) AS sum_disc_c,
        |  COUNT(*) AS n,
        |  ${ratio6Sql("SUM(CAST(ROUND(l_discount*100) AS BIGINT))",
                       "COUNT(*) * 100")} AS avg_disc
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin)),

    // Projection + predicate — both pushed into the parquet scan
    // (PushedFilters / ReadSchema visible in explain; SURVEY §2.2 P2/P4).
    Query("q_scan_project", (s, d) => {
      t(s, d, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"), col("l_quantity"))
        .filter(col("l_quantity") >= 45.0)
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    }, Sql(
      """SELECT l_orderkey, l_linenumber, l_partkey, l_quantity
        |FROM lineitem WHERE l_quantity >= 45.0
        |ORDER BY l_orderkey, l_linenumber""".stripMargin)),

    // Derived MovieLens-shape ratings view (FIXTURES.md §2) — the join that
    // feeds the whole recommendation path.
    Query("q_ratings", (s, d) => {
      Tables.ratings(s, d)
        .select(col("userId"), col("movieId"), col("rating"),
          unix_timestamp(col("ts")).as("ts_epoch"))
        .orderBy(col("userId"), col("movieId"), col("rating"), col("ts_epoch"))
    }, Sql(
      s"""WITH ${Tables.ratingsSql}
         |SELECT userId, movieId, rating,
         |       CAST(date_part('epoch', ts) AS BIGINT) AS ts_epoch
         |FROM ratings
         |ORDER BY userId, movieId, rating, ts_epoch""".stripMargin)),

    // Flagship: full popularity pipeline (reference popularity_model.py:48-59).
    Query("q_pop_top100", (s, d) => {
      Popularity.topMovies(Tables.ratings(s, d), 0.9, 100)
        .select(col("movieId"), col("avg_rating"), col("user_count"),
          round(col("score"), 6).as("score_r"))
        .orderBy(col("score_r").desc, col("movieId"))
    }, Sql(
      s"""WITH ${Tables.ratingsSql},
         |agg AS (
         |  SELECT movieId, AVG(rating) AS avg_rating, COUNT(userId) AS user_count
         |  FROM ratings GROUP BY movieId
         |),
         |stats AS (
         |  SELECT AVG(avg_rating) AS m, quantile_cont(user_count, 0.9) AS q FROM agg
         |)
         |SELECT movieId, avg_rating, user_count,
         |       ROUND((user_count/(user_count+q))*avg_rating + (q/(q+user_count))*m, 6) AS score_r
         |FROM agg, stats
         |WHERE user_count >= q
         |ORDER BY score_r DESC, movieId
         |LIMIT 100""".stripMargin)),

    // The two scalar statistics of the popularity model as a 1-row query
    // (reference collected them to the driver, popularity_model.py:49-50).
    Query("q_pop_stats", (s, d) => {
      Popularity.aggRatings(Tables.ratings(s, d))
        .agg(
          round(avg(col("avg_rating")), 6).as("m"),
          round(expr("percentile(user_count, 0.9)"), 6).as("q"))
    }, Sql(
      s"""WITH ${Tables.ratingsSql},
         |agg AS (
         |  SELECT movieId, AVG(rating) AS avg_rating, COUNT(userId) AS user_count
         |  FROM ratings GROUP BY movieId
         |)
         |SELECT ROUND(AVG(avg_rating), 6) AS m,
         |       ROUND(quantile_cont(user_count, 0.9), 6) AS q
         |FROM agg""".stripMargin), headline = false),

    // Time-decayed popularity: every rating votes rating/(1 + age/30d)
    // of its value (hyperbolic decay — PURE arithmetic, deliberately not
    // exp(): libm exp is not bit-identical across engines, division is).
    // The freshness-weighted ranking every feed/trending surface runs;
    // the anchor date is the corpus max (deterministic from data, one
    // 1-row broadcast). Top-100 by (rounded score, movieId) —
    // TakeOrdered, no global sort.
    Query("q_pop_decayed", (s, d) => {
      val r = Tables.ratings(s, d)
      val mx = r.agg(max(col("ts").cast("date")).as("mx"))
      r.crossJoin(broadcast(mx))
        .withColumn("age", datediff(col("mx"), col("ts").cast("date")))
        .groupBy(col("movieId"))
        .agg(
          round(sum(col("rating") / (lit(1.0) + col("age") / lit(30.0))), 6)
            .as("decayed_r"),
          count(lit(1)).as("n"))
        .orderBy(col("decayed_r").desc, col("movieId"))
        .limit(100)
    }, Sql(
      // literal arithmetic mirrors the Spark side exactly: CAST AS DOUBLE
      // divisors (a bare 30.0 would be DECIMAL math in DuckDB)
      s"""WITH ${Tables.ratingsSql},
         |mx AS (SELECT MAX(CAST(ts AS DATE)) AS mx FROM ratings)
         |SELECT movieId,
         |  ROUND(SUM(rating / (CAST(1 AS DOUBLE)
         |    + DATEDIFF('day', CAST(ts AS DATE), (SELECT mx FROM mx))
         |      / CAST(30 AS DOUBLE))), 6) AS decayed_r,
         |  COUNT(*) AS n
         |FROM ratings GROUP BY movieId
         |ORDER BY decayed_r DESC, movieId LIMIT 100""".stripMargin))
  )
}
