package graft.queries

import graft.Tables
import graft.functions.ExactRatio.{ratio6, ratio6Sql}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Join / window / set-op / distinct operator coverage (SURVEY §2.3–§2.6)
  * with DuckDB oracles.
  *
  * Scale notes per query are inline; the common rules:
  *  - dimension joins (`region`, `nation`, small `customer` slices) are
  *    explicitly `broadcast()` — at 100 TB the fact side never shuffles
  *    for them;
  *  - fact-fact joins shuffle on their equi-key and are left to
  *    sort-merge + AQE (skew split happens at runtime);
  *  - window queries partition on high-cardinality keys (custkey), so
  *    state per partition stays bounded;
  *  - integer outputs are cast to BIGINT and doubles rounded to 6dp on
  *    both sides so schema+hash compare exactly.
  */
object RelationalQueries {

  private def t(s: SparkSession, d: String, name: String) = Tables.load(s, d, name)
  private def cents(c: Column) = round(c * 100, 0).cast("long")

  /** Bucketed lineitem/orders pair for `d`, both bucketed ×8 on their
    * orderkey (matching counts — the co-location contract), under a
    * per-(context, scale dir) [[ContextMemo.dir]] root. Idempotent: the
    * write happens once per catalog entry.
    */
  private[graft] def bucketedTradeTables(
      s: SparkSession, d: String): (String, String) = {
    val root = ContextMemo.dir(s.sparkContext, s"bucketed:$d")(_ => ())
    // table names derive from the SANITIZED path, not a hash — two scale
    // dirs can never collide onto one catalog entry
    val tag = d.replaceAll("[^a-zA-Z0-9]", "_")
    val lt = graft.operators.Bucketing.ensureBucketedTable(s,
      t(s, d, "lineitem").select(col("l_orderkey"), col("l_extendedprice"),
        col("l_discount")),
      s"graft_bkt_lineitem_$tag", s"$root/lineitem", "l_orderkey")
    val ot = graft.operators.Bucketing.ensureBucketedTable(s,
      t(s, d, "orders").select(col("o_orderkey"), col("o_orderpriority")),
      s"graft_bkt_orders_$tag", s"$root/orders", "o_orderkey")
    (lt, ot)
  }

  /** The SCD2 (type-2 slowly-changing dimension) interval relation both
    * q_scd2_intervals and q_scd2_lookup build on: each customer's
    * consecutive same-status order runs collapsed (gaps-and-islands)
    * into versioned validity intervals [valid_from, valid_to) with an
    * is_current flag on the open interval. One window shuffle on the
    * high-cardinality custkey (bounded per-partition state), one
    * aggregate, one bounded second window over ≤|versions| rows per
    * customer — no self-joins, no driver loops. Unsorted; callers own
    * presentation order.
    */
  private def scd2Dim(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("d"), col("o_orderkey"))
    val flagged = t(s, d, "orders")
      .select(col("o_custkey"), col("o_orderkey"),
        col("o_orderdate").cast("date").as("d"), col("o_orderstatus"))
      .withColumn("chg",
        when(lag(col("o_orderstatus"), 1).over(w).isNull ||
             lag(col("o_orderstatus"), 1).over(w) =!= col("o_orderstatus"),
          lit(1L)).otherwise(lit(0L)))
      .withColumn("version", sum(col("chg")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val wv = Window.partitionBy(col("o_custkey")).orderBy(col("version"))
    flagged.groupBy(col("o_custkey"), col("version"), col("o_orderstatus"))
      .agg(min(col("d")).as("valid_from"), count(lit(1)).as("n_orders"))
      .withColumn("valid_to", lead(col("valid_from"), 1).over(wv))
      .withColumn("is_current", col("valid_to").isNull.cast("long"))
      .select(col("o_custkey"), col("version"),
        col("o_orderstatus").as("status"), col("valid_from"),
        col("valid_to"), col("n_orders"), col("is_current"))
  }

  /** The oracles' SCD2 versioning of each customer's order status:
    * `islands(o_custkey, o_orderstatus, d, version)`, the version
    * counting status changes in (order date, orderkey) order. */
  private val statusIslandsCtes =
    """flagged AS (
      |  SELECT o_custkey, o_orderkey, CAST(o_orderdate AS DATE) AS d, o_orderstatus,
      |    CASE WHEN LAG(o_orderstatus) OVER w IS NULL
      |           OR LAG(o_orderstatus) OVER w <> o_orderstatus
      |         THEN 1 ELSE 0 END AS chg
      |  FROM orders
      |  WINDOW w AS (PARTITION BY o_custkey ORDER BY CAST(o_orderdate AS DATE), o_orderkey)
      |), islands AS (
      |  SELECT o_custkey, o_orderstatus, d,
      |    SUM(chg) OVER (PARTITION BY o_custkey ORDER BY d, o_orderkey
      |                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS version
      |  FROM flagged
      |)""".stripMargin

  val declarations: Seq[Query] = Seq(
    // J1: inner equi-join fact⋈dim — dim broadcast, no shuffle of orders.
    Query("q_join_inner", (s, d) => {
      val c = t(s, d, "customer").select(col("c_custkey"), col("c_mktsegment"))
      t(s, d, "orders")
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(sum(cents(col("o_totalprice"))).as("revenue_c"),
          count(lit(1)).as("n_orders"))
        .orderBy(col("c_mktsegment"))
    }, Sql(
      """SELECT c_mktsegment,
        |  CAST(SUM(CAST(ROUND(o_totalprice*100) AS BIGINT)) AS BIGINT) AS revenue_c,
        |  COUNT(*) AS n_orders
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)),

    // Multi-way join through the dimension chain (TPC-H Q5 shape):
    // lineitem⋈orders shuffles on orderkey; everything above is broadcast.
    Query("q_join_multi", (s, d) => {
      val r = t(s, d, "region").select(col("r_regionkey"), col("r_name"))
      val n = t(s, d, "nation")
      val c = t(s, d, "customer").select(col("c_custkey"), col("c_nationkey"))
      val o = t(s, d, "orders").select(col("o_orderkey"), col("o_custkey"))
      val l = t(s, d, "lineitem")
        .select(col("l_orderkey"), cents(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("rev_c"))
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(sum(col("rev_c")).as("revenue_c"), count(lit(1)).as("n_items"))
        .orderBy(col("r_name"), col("n_name"))
    }, Sql(
      """SELECT r_name, n_name,
        |  CAST(SUM(CAST(ROUND(l_extendedprice*(1.0-l_discount)*100) AS BIGINT)) AS BIGINT) AS revenue_c,
        |  COUNT(*) AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin)),

    // J2: left-anti — replaces the reference's pandas merge-indicator idiom
    // (`new_split_script.py:8`). Customers with no URGENT order.
    Query("q_join_anti", (s, d) => {
      val urgent = t(s, d, "orders").filter(col("o_orderpriority") === "1-URGENT")
      t(s, d, "customer")
        .join(urgent, col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"))
        .orderBy(col("c_custkey"))
    }, Sql(
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey
        |                    AND o_orderpriority = '1-URGENT')
        |ORDER BY c_custkey""".stripMargin)),

    // left-semi (EXISTS): customers with at least one high-value order.
    Query("q_join_semi", (s, d) => {
      val big = t(s, d, "orders").filter(col("o_totalprice") > 400000.0)
      t(s, d, "customer")
        .join(big, col("c_custkey") === col("o_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_mktsegment"))
        .orderBy(col("c_custkey"))
    }, Sql(
      """SELECT c_custkey, c_mktsegment FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |              WHERE o_custkey = c_custkey AND o_totalprice > 400000.0)
        |ORDER BY c_custkey""".stripMargin), headline = false),

    // T2: multiset difference (reference `split_script.py:46` exceptAll) —
    // lineitem partkeys minus part keys, bag semantics.
    Query("q_exceptall", (s, d) => {
      t(s, d, "lineitem").select(col("l_partkey").as("k"))
        .exceptAll(t(s, d, "part").select(col("p_partkey").as("k")))
        .orderBy(col("k"))
    }, Sql(
      """SELECT l_partkey AS k FROM lineitem
        |EXCEPT ALL
        |SELECT p_partkey AS k FROM part
        |ORDER BY k""".stripMargin)),

    // A7: distinct (reference `split_script.py:24`).
    Query("q_distinct", (s, d) => {
      t(s, d, "customer").select(col("c_mktsegment")).distinct()
        .orderBy(col("c_mktsegment"))
    }, Sql(
      "SELECT DISTINCT c_mktsegment FROM customer ORDER BY c_mktsegment"), headline = false),

    // A8: exact count-distinct (reference counted a collected list,
    // `split_script.py:24`; here a single distributed aggregate).
    Query("q_count_distinct", (s, d) => {
      t(s, d, "orders").agg(
        countDistinct(col("o_custkey")).as("n_users"),
        count(lit(1)).as("n_orders"))
    }, Sql(
      """SELECT COUNT(DISTINCT o_custkey) AS n_users, COUNT(*) AS n_orders
        |FROM orders""".stripMargin), headline = false),

    // P6/P8: when/isin/otherwise labeling (reference `split_script.py:40`).
    Query("q_when_isin", (s, d) => {
      t(s, d, "orders")
        .withColumn("label",
          when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), lit("hot"))
            .when(col("o_orderpriority") === "3-MEDIUM", lit("warm"))
            .otherwise(lit("cold")))
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n"), sum(cents(col("o_totalprice"))).as("total_c"))
        .orderBy(col("label"))
    }, Sql(
      """SELECT CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 'hot'
        |            WHEN o_orderpriority = '3-MEDIUM' THEN 'warm'
        |            ELSE 'cold' END AS label,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(ROUND(o_totalprice*100) AS BIGINT)) AS BIGINT) AS total_c
        |FROM orders GROUP BY 1 ORDER BY label""".stripMargin), headline = false),

    // O5/A6 shape: per-group top-k via ranking window (the DataFrame-native
    // equivalent of recommendForAllUsers' per-user top-k, SURVEY A6).
    Query("q_window_topk", (s, d) => {
      val w = Window.partitionBy(col("l_returnflag"))
        .orderBy(col("price_c").desc, col("l_orderkey"), col("l_linenumber"))
      t(s, d, "lineitem")
        .select(col("l_returnflag"), col("l_orderkey"), col("l_linenumber").cast("long").as("l_linenumber"),
          cents(col("l_extendedprice")).as("price_c"))
        .withColumn("rn", row_number().over(w).cast("long"))
        .filter(col("rn") <= 5)
        .orderBy(col("l_returnflag"), col("rn"))
    }, Sql(
      """SELECT * FROM (
        |  SELECT l_returnflag, l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
        |    CAST(ROUND(l_extendedprice*100) AS BIGINT) AS price_c,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY l_returnflag
        |      ORDER BY CAST(ROUND(l_extendedprice*100) AS BIGINT) DESC,
        |               l_orderkey, l_linenumber) AS BIGINT) AS rn
        |  FROM lineitem)
        |WHERE rn <= 5 ORDER BY l_returnflag, rn""".stripMargin)),

    // Analytic window: per-customer running revenue (frame = unbounded
    // preceding → current row), exact BIGINT accumulation.
    Query("q_window_running", (s, d) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, d, "orders")
        .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
          cents(col("o_totalprice")).as("price_c"))
        .withColumn("running_c", sum(col("price_c")).over(w))
        .select(col("o_custkey"), col("o_orderkey"), col("running_c"))
        .orderBy(col("o_custkey"), col("o_orderkey"))
    }, Sql(
      """SELECT o_custkey, o_orderkey,
        |  CAST(SUM(CAST(ROUND(o_totalprice*100) AS BIGINT)) OVER (
        |    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS running_c
        |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin)),

    // lag(): days since the customer's previous order.
    Query("q_window_lag", (s, d) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      t(s, d, "orders")
        .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"))
        .withColumn("prev_date", lag(col("o_orderdate"), 1).over(w))
        .select(col("o_custkey"), col("o_orderkey"),
          datediff(col("o_orderdate").cast("date"), col("prev_date").cast("date"))
            .cast("long").as("days_since_prev"))
        .orderBy(col("o_custkey"), col("o_orderkey"))
    }, Sql(
      """SELECT o_custkey, o_orderkey,
        |  CAST(date_diff('day',
        |    CAST(LAG(o_orderdate, 1) OVER (PARTITION BY o_custkey
        |      ORDER BY o_orderdate, o_orderkey) AS DATE),
        |    CAST(o_orderdate AS DATE)) AS BIGINT) AS days_since_prev
        |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin), headline = false),

    // A4 shape: two-level aggregate + collect_list (reference
    // `als.py:115-118`) — list emitted as a sorted joined string so the
    // value hash is engine-independent.
    Query("q_collect_list", (s, d) => {
      val r = Tables.ratings(s, d)
      r.groupBy(col("userId"), col("movieId"))
        .agg(avg(col("rating")).as("rating"))
        .groupBy(col("userId"))
        .agg(
          concat_ws(",", sort_array(collect_list(col("movieId")))).as("movies_list"),
          count(lit(1)).as("n_movies"))
        .orderBy(col("userId"))
    }, Sql(
      s"""WITH ${Tables.ratingsSql},
         |dedup AS (
         |  SELECT userId, movieId, AVG(rating) AS rating
         |  FROM ratings GROUP BY userId, movieId
         |)
         |SELECT userId,
         |  array_to_string(list_sort(list(movieId)), ',') AS movies_list,
         |  COUNT(*) AS n_movies
         |FROM dedup GROUP BY userId ORDER BY userId""".stripMargin)),

    // rollup: hierarchical totals (engine addition — absent in reference,
    // standard OLAP surface). Group-key nulls from the rollup are
    // projected to 'ALL' so null-ordering differences can't bite.
    Query("q_rollup", (s, d) => {
      t(s, d, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(cents(col("l_quantity"))).as("qty_c"), count(lit(1)).as("n"))
        .select(coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
          coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
          col("qty_c"), col("n"))
        .orderBy(col("rf"), col("ls"))
    }, Sql(
      """SELECT COALESCE(l_returnflag, 'ALL') AS rf,
        |  COALESCE(l_linestatus, 'ALL') AS ls,
        |  CAST(SUM(CAST(ROUND(l_quantity*100) AS BIGINT)) AS BIGINT) AS qty_c,
        |  COUNT(*) AS n
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY rf, ls""".stripMargin), headline = false),

    // cube: all grouping combinations.
    Query("q_cube", (s, d) => {
      t(s, d, "orders")
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), sum(cents(col("o_totalprice"))).as("total_c"))
        .select(coalesce(col("o_orderstatus"), lit("ALL")).as("st"),
          coalesce(col("o_orderpriority"), lit("ALL")).as("pr"),
          col("n"), col("total_c"))
        .orderBy(col("st"), col("pr"))
    }, Sql(
      """SELECT COALESCE(o_orderstatus, 'ALL') AS st,
        |  COALESCE(o_orderpriority, 'ALL') AS pr,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(ROUND(o_totalprice*100) AS BIGINT)) AS BIGINT) AS total_c
        |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
        |ORDER BY st, pr""".stripMargin), headline = false),

    // union / intersect (set-op surface the reference never used).
    Query("q_union_intersect", (s, d) => {
      val a = t(s, d, "lineitem").select(col("l_partkey").as("k")).distinct()
      val b = t(s, d, "part").select(col("p_partkey").as("k")).distinct()
      a.union(b).distinct().agg(count(lit(1)).as("n_union"))
        .crossJoin(a.intersect(b).agg(count(lit(1)).as("n_intersect")))
    }, Sql(
      """SELECT
        |  (SELECT COUNT(*) FROM (
        |     SELECT l_partkey AS k FROM lineitem UNION SELECT p_partkey FROM part)) AS n_union,
        |  (SELECT COUNT(*) FROM (
        |     SELECT DISTINCT l_partkey AS k FROM lineitem
        |     INTERSECT SELECT DISTINCT p_partkey FROM part)) AS n_intersect""".stripMargin),
      headline = false),

    // HLL approximate count-distinct — the 100 TB path for A8. Not
    // oracle-able (sketch-specific); scalatest asserts tolerance vs exact.
    Query("q_approx_distinct", (s, d) => {
      t(s, d, "lineitem").agg(
        approx_count_distinct(col("l_partkey"), 0.02).as("approx_parts"),
        approx_count_distinct(col("l_orderkey"), 0.02).as("approx_orders"))
    }, Exempt(
      "HLL estimate is engine-specific; rsd tolerance vs exact in IngestSpec"), headline = false),

    // A2: grand aggregate over the fact table (1 row).
    Query("q_global_agg", (s, d) => {
      t(s, d, "lineitem").agg(
        count(lit(1)).as("n"),
        sum(cents(col("l_extendedprice"))).as("sum_price_c"),
        round(min(col("l_quantity")), 6).as("min_qty"),
        round(max(col("l_quantity")), 6).as("max_qty"),
        countDistinct(col("l_partkey")).as("n_parts"))
    }, Sql(
      """SELECT COUNT(*) AS n,
        |  CAST(SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT)) AS BIGINT) AS sum_price_c,
        |  ROUND(MIN(l_quantity), 6) AS min_qty,
        |  ROUND(MAX(l_quantity), 6) AS max_qty,
        |  COUNT(DISTINCT l_partkey) AS n_parts
        |FROM lineitem""".stripMargin), headline = false),

    // Salted equi-join (the EXPLICIT skew form, Skew.saltedJoin): the fact
    // side is salted by content hash, the dimension replicated ×buckets,
    // so one hot supplier key spreads over `buckets` reducers instead of
    // melting one. Result is value-identical to the plain join (the oracle
    // IS the plain join) — salting changes the shuffle layout, never the
    // relation. At 100 TB this is the fallback when AQE can't split the
    // skew (e.g. the planner must commit before runtime stats exist).
    Query("q_join_salted", (s, d) => {
      val big = t(s, d, "lineitem").select(
        col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
        cents(col("l_extendedprice")).as("price_c"))
      val dim = t(s, d, "supplier").select(
        col("s_suppkey").as("l_suppkey"),
        col("s_nationkey").cast("long").as("s_nationkey"))
      graft.operators.Skew.saltedJoin(big, dim, "l_suppkey",
          spread = Seq("l_orderkey", "l_linenumber"), buckets = 8)
        .groupBy(col("s_nationkey"))
        .agg(count(lit(1)).as("n_items"), sum(col("price_c")).as("revenue_c"))
        .orderBy(col("s_nationkey"))
    }, Sql(
      // The salted join is value-identical to the plain join by contract.
      """SELECT CAST(s_nationkey AS BIGINT) AS s_nationkey,
        |  COUNT(*) AS n_items,
        |  CAST(SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT)) AS BIGINT) AS revenue_c
        |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // SCD2 (type-2 slowly-changing dimension) history build from an event
    // log — the CDC pattern every warehouse intake runs: collapse each
    // customer's consecutive same-status runs (gaps-and-islands) into
    // versioned validity intervals [valid_from, valid_to) with an
    // is_current flag on the open interval. One window shuffle on the
    // high-cardinality custkey (bounded per-partition state), one
    // aggregate, one bounded second window over the ≤|versions| rows per
    // customer — no self-joins, no driver loops.
    Query("q_scd2_intervals", (s, d) =>
      scd2Dim(s, d).orderBy(col("o_custkey"), col("version")),
      Sql(
      s"""WITH $statusIslandsCtes, iv AS (
        |  SELECT o_custkey, CAST(version AS BIGINT) AS version, o_orderstatus,
        |    MIN(d) AS valid_from, COUNT(*) AS n_orders
        |  FROM islands GROUP BY 1, 2, 3
        |)
        |SELECT o_custkey, version, o_orderstatus AS status, valid_from,
        |  LEAD(valid_from) OVER wv AS valid_to, n_orders,
        |  CAST(CASE WHEN LEAD(valid_from) OVER wv IS NULL THEN 1 ELSE 0 END AS BIGINT) AS is_current
        |FROM iv
        |WINDOW wv AS (PARTITION BY o_custkey ORDER BY version)
        |ORDER BY o_custkey, version""".stripMargin)),

    // Point-in-time (temporal) fact→dimension lookup against the SCD2
    // history built above: each lineitem is enriched with the customer
    // STATUS VERSION valid at its SHIP date — the "join to the dimension
    // as of the event, not as of today" pattern every warehouse backfill
    // needs. NEVER a range join: intervals per key are contiguous, so
    // containment ≡ as-of-backward on valid_from, and
    // AsofJoin.asofBackward runs it as ONE union shuffle on the
    // high-cardinality custkey + a per-key ordered sweep — |facts|+|dim|
    // rows moved, zero row multiplication (the BETWEEN-join form
    // explodes each fact by its key's whole version history before
    // pruning). At the d = valid_to boundary the half-open interval and
    // the as-of's `<=`-latest-wins tie rule agree: the NEW version wins
    // (AsofExtensionsSpec pins this seam). Facts dated BEFORE their
    // customer's first version (this fixture draws ship dates
    // independently of order dates) land in an explicit "(pre)" bucket
    // — the unattributed-facts convention every backfill needs, mirrored
    // in the oracle as the LEFT-join null branch.
    Query("q_scd2_lookup", (s, d) => {
      val dim = scd2Dim(s, d).select(col("o_custkey"), col("valid_from"),
        col("version"), col("status"))
      val facts = t(s, d, "lineitem")
        .select(col("l_orderkey"), col("l_shipdate").cast("date").as("d"))
        .join(t(s, d, "orders").select(col("o_orderkey"), col("o_custkey")),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("o_custkey"), col("d"))
      graft.operators.AsofJoin.asofBackward(facts, dim, "o_custkey",
          leftTime = "d", rightTime = "valid_from",
          attach = Map("status" -> "status", "version" -> "version"),
          rightTiebreak = "version")
        .groupBy(coalesce(col("status"), lit("(pre)")).as("status"))
        .agg(count(lit(1)).as("n_items"),
          countDistinct(col("o_custkey")).as("n_custs"))
        .orderBy(col("status"))
    }, Sql(
      // Interval-containment form of the as-of lookup: per-key intervals
      // are contiguous and every ship date ≥ the customer's first
      // valid_from, so the half-open BETWEEN join is value-identical to
      // the engine's as-of-backward sweep (boundary facts land in the NEW
      // version on both forms).
      s"""WITH $statusIslandsCtes, iv AS (
        |  SELECT o_custkey, version, o_orderstatus, MIN(d) AS valid_from
        |  FROM islands GROUP BY o_custkey, version, o_orderstatus
        |), scd2 AS (
        |  -- LEAD by VERSION, not valid_from: a same-day status flip makes
        |  -- two versions share a valid_from; the earlier one must get the
        |  -- zero-width interval (the as-of tiebreak picks the later)
        |  SELECT o_custkey, o_orderstatus AS status, valid_from,
        |    LEAD(valid_from) OVER (PARTITION BY o_custkey ORDER BY version) AS valid_to
        |  FROM iv
        |), facts AS (
        |  SELECT o_custkey, CAST(l_shipdate AS DATE) AS d
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |)
        |SELECT COALESCE(v.status, '(pre)') AS status, COUNT(*) AS n_items,
        |  COUNT(DISTINCT f.o_custkey) AS n_custs
        |FROM facts f LEFT JOIN scd2 v
        |  ON f.o_custkey = v.o_custkey AND f.d >= v.valid_from
        | AND (v.valid_to IS NULL OR f.d < v.valid_to)
        |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Fact⋈fact join over BUCKETED tables (Bucketing.ensureBucketedTable):
    // both sides pre-hashed ×8 on orderkey at rest, so the sort-merge join
    // plans with NO Exchange on either side (asserted in ScalePostureSpec)
    // — the storage-layout answer to the one join class that can never
    // broadcast. Values identical to the plain join (the oracle is the
    // plain join over the raw parquet).
    Query("q_join_bucketed", (s, d) => {
      val (lt, ot) = bucketedTradeTables(s, d)
      val l = s.table(lt)
      val o = s.table(ot)
      l.join(o, l("l_orderkey") === o("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_items"),
          sum(cents(col("l_extendedprice") * (lit(1.0) - col("l_discount"))))
            .as("revenue_c"))
        .orderBy(col("o_orderpriority"))
    }, Sql(
      // Bucketing changes the physical layout, never the relation.
      """SELECT o_orderpriority, COUNT(*) AS n_items,
        |  CAST(SUM(CAST(ROUND(l_extendedprice*(1.0-l_discount)*100) AS BIGINT)) AS BIGINT) AS revenue_c
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // The pre-salting diagnostic: per-key weight distribution of a join
    // key plus the heaviest keys — the report that tells you WHEN
    // Skew.saltedJoin / AQE skew handling is worth its extra exchange
    // (run it on the key of any join that's spilling; alert on
    // skew_factor). One key-shuffle for the counts, a bounded scalar
    // aggregate broadcast back onto the TakeOrdered top keys — the
    // report costs one pass however large the fact table is.
    Query("q_skew_report", (s, d) => {
      val counts = t(s, d, "lineitem")
        .groupBy(col("l_partkey").as("key")).agg(count(lit(1)).as("n"))
      val stats = counts.agg(count(lit(1)).as("n_keys"),
        sum(col("n")).as("n_rows"), max(col("n")).as("max_n"),
        ratio6(sum(col("n")), count(lit(1))).as("mean_n"),
        // max/mean = max·n_keys/sum — ONE exact integer ratio
        ratio6(max(col("n")) * count(lit(1)), sum(col("n")))
          .as("skew_factor"))
      counts.orderBy(col("n").desc, col("key")).limit(5)
        .crossJoin(broadcast(stats)) // 1-row scalar attach
        .select(col("key"), col("n"), col("n_keys"), col("n_rows"),
          col("max_n"), col("mean_n"), col("skew_factor"))
        .orderBy(col("n").desc, col("key"))
    }, Sql(
      s"""WITH c AS (
        |  SELECT l_partkey AS key, COUNT(*) AS n FROM lineitem GROUP BY 1
        |),
        |s AS (
        |  SELECT COUNT(*) AS n_keys, CAST(SUM(n) AS BIGINT) AS n_rows,
        |    MAX(n) AS max_n, ${ratio6Sql("SUM(n)", "COUNT(*)")} AS mean_n,
        |    ${ratio6Sql("MAX(n) * COUNT(*)", "SUM(n)")} AS skew_factor
        |  FROM c
        |)
        |SELECT key, n, n_keys, n_rows, max_n, mean_n, skew_factor
        |FROM (SELECT * FROM c ORDER BY n DESC, key LIMIT 5), s
        |ORDER BY n DESC, key""".stripMargin)),

    // CDC merge / MERGE INTO compaction: apply an ordered change feed
    // (insert snapshot → seq-1 upserts → seq-2 deletes, derived
    // deterministically from the fixture) onto a base snapshot and roll
    // up the FINAL state. Latest-version-wins is ONE max_by aggregate
    // on the high-cardinality key — a map-side-combinable groupBy, not
    // a row_number window (the window form sorts every partition; the
    // aggregate form ships one struct per key per mapper — the shape a
    // 100 TB log-compaction job needs). seq is unique per key so
    // max_by is deterministic; deletes drop AFTER the merge, exactly
    // MERGE INTO's WHEN MATCHED THEN DELETE.
    Query("q_cdc_merge", (s, d) => {
      val o = t(s, d, "orders").select(col("o_orderkey"),
        col("o_orderstatus"), cents(col("o_totalprice")).as("price_c"))
      val base = o.select(col("o_orderkey"), col("o_orderstatus"),
        col("price_c"), lit(0L).as("seq"), lit("I").as("op"))
      val upd = o.filter(pmod(col("o_orderkey"), lit(5)) === 0)
        .select(col("o_orderkey"), col("o_orderstatus"),
          (col("price_c") + lit(500L)).as("price_c"),
          lit(1L).as("seq"), lit("U").as("op"))
      val del = o.filter(pmod(col("o_orderkey"), lit(7)) === 0)
        .select(col("o_orderkey"), col("o_orderstatus"), col("price_c"),
          lit(2L).as("seq"), lit("D").as("op"))
      base.unionByName(upd).unionByName(del)
        .groupBy(col("o_orderkey"))
        .agg(max_by(struct(col("op"), col("o_orderstatus"),
          col("price_c")), col("seq")).as("f"))
        .filter(col("f.op") =!= "D")
        .select(col("f.o_orderstatus").as("o_orderstatus"),
          col("f.price_c").as("price_c"), col("f.op").as("op"))
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n_rows"),
          sum(col("price_c")).as("price_c"),
          sum(when(col("op") === "U", 1L).otherwise(0L)).as("n_updated"))
        .orderBy(col("o_orderstatus"))
    }, Sql(
      // arg_max per column ≡ the Spark side's max_by(struct) because seq
      // is unique per key (0/1/2 from disjoint-by-construction branches)
      """WITH o AS (
        |  SELECT o_orderkey, o_orderstatus,
        |    CAST(ROUND(o_totalprice*100) AS BIGINT) AS price_c
        |  FROM orders
        |),
        |feed AS (
        |  SELECT o_orderkey, o_orderstatus, price_c, 0 AS seq, 'I' AS op FROM o
        |  UNION ALL
        |  SELECT o_orderkey, o_orderstatus, price_c + 500, 1, 'U' FROM o
        |  WHERE o_orderkey % 5 = 0
        |  UNION ALL
        |  SELECT o_orderkey, o_orderstatus, price_c, 2, 'D' FROM o
        |  WHERE o_orderkey % 7 = 0
        |),
        |latest AS (
        |  SELECT o_orderkey, arg_max(op, seq) AS op,
        |    arg_max(o_orderstatus, seq) AS o_orderstatus,
        |    arg_max(price_c, seq) AS price_c
        |  FROM feed GROUP BY 1
        |)
        |SELECT o_orderstatus, COUNT(*) AS n_rows,
        |  CAST(SUM(price_c) AS BIGINT) AS price_c,
        |  CAST(SUM(CASE WHEN op = 'U' THEN 1 ELSE 0 END) AS BIGINT) AS n_updated
        |FROM latest WHERE op <> 'D'
        |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Incremental materialized-view maintenance (delta-propagation IVM,
    // the complement of q_cdc_merge's row compaction): a stored per-key
    // aggregate MV is refreshed from a signed CDC delta — inserts +1,
    // retractions −1 — by ONE delta-sized aggregate merged into the MV
    // with a full-outer coalesce-add; keys whose support reaches zero
    // drop out. The 100 TB point is what the refresh DOESN'T touch:
    // the base epoch's facts are never re-scanned — cost is
    // O(|delta| + |affected MV keys|), the only refresh shape that
    // survives a view over years of history (here the base aggregate
    // stands in for the stored MV; at scale it is a table, and the
    // delta agg is map-side combinable before the MV-key-partitioned
    // merge join). The oracle witnesses the IVM algebra from the other
    // side: a FULL recompute over the retained set (all orders minus
    // the retracted ones) must equal the incremental merge exactly —
    // integer counts and cents, no float seam.
    Query("q_mv_refresh", (s, d) => {
      val o = t(s, d, "orders").select(col("o_custkey"), col("o_orderkey"),
        cents(col("o_totalprice")).as("price_c"), col("o_orderdate"))
      val cutoff = expr("TIMESTAMP '1999-01-01 00:00:00'")
      val base = o.filter(col("o_orderdate") < cutoff)
      val mv = base.groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n_orders"), sum(col("price_c")).as("rev_c"))
      val delta = o.filter(col("o_orderdate") >= cutoff)
          .select(col("o_custkey"), lit(1L).as("sgn"), col("price_c"))
        .unionByName(base.filter(pmod(col("o_orderkey"), lit(13)) === 0)
          .select(col("o_custkey"), lit(-1L).as("sgn"), col("price_c")))
      val dagg = delta.groupBy(col("o_custkey"))
        .agg(sum(col("sgn")).as("dn"),
          sum(col("sgn") * col("price_c")).as("drev"))
      mv.join(dagg, Seq("o_custkey"), "full_outer")
        .select(col("o_custkey"),
          (coalesce(col("n_orders"), lit(0L)) +
            coalesce(col("dn"), lit(0L))).as("n_orders"),
          (coalesce(col("rev_c"), lit(0L)) +
            coalesce(col("drev"), lit(0L))).as("rev_c"))
        .filter(col("n_orders") > 0)
        .orderBy(col("o_custkey"))
    }, Sql(
      // the IVM witness from the other side: full recompute over the
      // retained set (all orders minus the retracted base-epoch ones)
      // must equal the engine's incremental MV + signed-delta merge
      """SELECT o_custkey, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(ROUND(o_totalprice*100) AS BIGINT)) AS BIGINT) AS rev_c
        |FROM orders
        |WHERE NOT (o_orderdate < TIMESTAMP '1999-01-01 00:00:00'
        |           AND o_orderkey % 13 = 0)
        |GROUP BY 1 ORDER BY o_custkey""".stripMargin)),

    // k-anonymity audit (training-data governance: can any row be
    // singled out by its quasi-identifiers?): group sizes over the QI
    // tuple (segment, nation, $1000 acctbal band), then the release
    // report — smallest group (the k), rows in groups below the k=5
    // release threshold, and the at-risk fraction. One count shuffle
    // bounded by the QI DOMAIN; every figure is an exact integer except
    // the one reporting fraction. floor() (not integer div) for the
    // band: truncation rounds negative balances toward zero and floors
    // disagree cross-engine.
    Query("q_k_anonymity", (s, d) => {
      val qi = t(s, d, "customer").select(col("c_mktsegment").as("seg"),
        col("c_nationkey").as("nat"),
        floor(col("c_acctbal") / 1000.0).cast("long").as("bal_band"))
      qi.groupBy(col("seg"), col("nat"), col("bal_band"))
        .agg(count(lit(1)).as("gsize"))
        .agg(count(lit(1)).as("n_groups"), min(col("gsize")).as("k_min"),
          sum(col("gsize")).as("n_rows"),
          sum(when(col("gsize") < 5, col("gsize")).otherwise(0L))
            .as("rows_at_risk"),
          sum(when(col("gsize") < 5, 1L).otherwise(0L)).as("groups_lt5"))
        .select(col("n_groups"), col("k_min"), col("n_rows"),
          col("rows_at_risk"), col("groups_lt5"),
          ratio6(col("rows_at_risk"), col("n_rows")).as("risk_frac_r"))
    }, Sql(
      s"""WITH qi AS (
        |  SELECT c_mktsegment AS seg, c_nationkey AS nat,
        |    CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS bal_band
        |  FROM customer),
        |g AS (
        |  SELECT seg, nat, bal_band, COUNT(*) AS gsize
        |  FROM qi GROUP BY 1, 2, 3)
        |SELECT COUNT(*) AS n_groups, MIN(gsize) AS k_min,
        |  CAST(SUM(gsize) AS BIGINT) AS n_rows,
        |  CAST(SUM(CASE WHEN gsize < 5 THEN gsize ELSE 0 END) AS BIGINT)
        |    AS rows_at_risk,
        |  CAST(SUM(CASE WHEN gsize < 5 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS groups_lt5,
        |  ${ratio6Sql("SUM(CASE WHEN gsize < 5 THEN gsize ELSE 0 END)",
                       "SUM(gsize)")} AS risk_frac_r
        |FROM g""".stripMargin)),

    // l-diversity (the companion audit: within each QI group, how many
    // DISTINCT sensitive values — here the group's customers' order
    // priorities — does an attacker learn?): per-group distinct count,
    // reported as the l histogram. The join fans out by orders-per-
    // customer, then collapses straight back to the bounded QI domain.
    Query("q_l_diversity", (s, d) => {
      val qi = t(s, d, "customer").select(col("c_custkey"),
        col("c_mktsegment").as("seg"), col("c_nationkey").as("nat"),
        floor(col("c_acctbal") / 1000.0).cast("long").as("bal_band"))
      val sens = t(s, d, "orders").select(
        col("o_custkey").as("c_custkey"),
        col("o_orderpriority").as("sens"))
      qi.join(sens, Seq("c_custkey"))
        .groupBy(col("seg"), col("nat"), col("bal_band"))
        .agg(countDistinct(col("sens")).as("l_div"))
        .groupBy(col("l_div")).agg(count(lit(1)).as("n_groups"))
        .orderBy(col("l_div"))
    }, Sql(
      """WITH qi AS (
        |  SELECT c_custkey, c_mktsegment AS seg, c_nationkey AS nat,
        |    CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS bal_band
        |  FROM customer),
        |l AS (
        |  SELECT qi.seg, qi.nat, qi.bal_band,
        |    COUNT(DISTINCT o.o_orderpriority) AS l_div
        |  FROM qi JOIN orders o ON o.o_custkey = qi.c_custkey
        |  GROUP BY 1, 2, 3)
        |SELECT l_div, COUNT(*) AS n_groups
        |FROM l GROUP BY 1 ORDER BY l_div""".stripMargin)),

    // the generalization ladder (how k recovers as QI columns coarsen):
    // ONE rollup pass gives group sizes at every prefix level —
    // (seg,nat,band) → (seg,nat) → (seg) — then a per-level summary
    // keyed by grouping_id. Spark's rollup and DuckDB's ROLLUP share
    // the first-column-most-significant GROUPING() convention.
    Query("q_anon_ladder", (s, d) => {
      val qi = t(s, d, "customer").select(col("c_mktsegment").as("seg"),
        col("c_nationkey").as("nat"),
        floor(col("c_acctbal") / 1000.0).cast("long").as("bal_band"))
      qi.rollup(col("seg"), col("nat"), col("bal_band"))
        .agg(count(lit(1)).as("gsize"), grouping_id().as("gid"))
        .filter(col("gid").isin(0, 1, 3))
        .groupBy(col("gid"))
        .agg(count(lit(1)).as("n_groups"), min(col("gsize")).as("k_min"),
          sum(when(col("gsize") < 5, col("gsize")).otherwise(0L))
            .as("rows_at_risk"))
        .select(
          when(col("gid") === 0, "seg_nat_band")
            .when(col("gid") === 1, "seg_nat")
            .otherwise("seg").as("level"),
          col("n_groups"), col("k_min"), col("rows_at_risk"))
        .orderBy(col("level"))
    }, Sql(
      """WITH qi AS (
        |  SELECT c_mktsegment AS seg, c_nationkey AS nat,
        |    CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS bal_band
        |  FROM customer),
        |r AS (
        |  SELECT seg, nat, bal_band, COUNT(*) AS gsize,
        |    GROUPING(seg, nat, bal_band) AS gid
        |  FROM qi GROUP BY ROLLUP (seg, nat, bal_band))
        |SELECT CASE WHEN gid = 0 THEN 'seg_nat_band'
        |            WHEN gid = 1 THEN 'seg_nat'
        |            ELSE 'seg' END AS level,
        |  COUNT(*) AS n_groups, MIN(gsize) AS k_min,
        |  CAST(SUM(CASE WHEN gsize < 5 THEN gsize ELSE 0 END) AS BIGINT)
        |    AS rows_at_risk
        |FROM r WHERE gid IN (0, 1, 3)
        |GROUP BY 1 ORDER BY level""".stripMargin)),

    // JOIN-delta IVM (the harder maintenance case next to q_mv_refresh's
    // single-table aggregate): the stored MV is a per-customer revenue
    // aggregate over orders ⋈ lineitem, and a lineitem delta batch
    // (l_orderkey % 17 = 5 — proportional at any scale) arrives. The
    // refresh joins ONLY the delta against the orders dimension —
    // O(|Δ| + |affected keys|), never a base-fact rescan — and merges
    // with the full-outer coalesce-add. The oracle recomputes from
    // scratch, witnessing the join-delta identity
    // agg((B ∪ Δ) ⋈ O) = agg(B ⋈ O) ⊕ agg(Δ ⋈ O) cross-engine.
    // Revenue as exact cents per line (one IEEE product, the TPC-H
    // revenue convention), so the merge has no float seam.
    Query("q_mv_join_refresh", (s, d) => {
      val o = t(s, d, "orders").select(col("o_orderkey"), col("o_custkey"))
      val li = t(s, d, "lineitem").select(col("l_orderkey"),
        cents(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .as("rev"),
        (pmod(col("l_orderkey"), lit(17)) === 5).as("is_delta"))
      def agg1(part: DataFrame, out: String) =
        part.join(o, col("l_orderkey") === col("o_orderkey"))
          .groupBy(col("o_custkey")).agg(sum(col("rev")).as(out))
      val mv0 = agg1(li.filter(!col("is_delta")), "rev_c")
      val dmv = agg1(li.filter(col("is_delta")), "d_rev")
      mv0.join(dmv, Seq("o_custkey"), "full_outer")
        .select(col("o_custkey"),
          (coalesce(col("rev_c"), lit(0L)) +
            coalesce(col("d_rev"), lit(0L))).as("revenue_c"))
        .orderBy(col("o_custkey"))
    }, Sql(
      // the join-delta IVM witness: full recompute over ALL lineitems
      """SELECT o_custkey,
        |  CAST(SUM(CAST(ROUND(l_extendedprice*(1.0-l_discount)*100) AS BIGINT)) AS BIGINT)
        |    AS revenue_c
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1 ORDER BY o_custkey""".stripMargin))
  )
}
