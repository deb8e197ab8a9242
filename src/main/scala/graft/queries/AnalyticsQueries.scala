package graft.queries

import graft.Tables
import graft.functions.ExactRatio.{ratio6, ratio6Sql, sratio6, sratio6Sql, det6, det6Sql}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Analytic / function-surface coverage beyond the reference's operator set:
  * outer joins, analytic window functions, statistical and positional
  * aggregates, string/date/array/map scalar-function suites, full TPC-H
  * query shapes, a non-equi range join, unpivot, SQL-text grouping sets,
  * the typed Dataset API, and a mergeable HLL sketch.
  *
  * Scale rules as elsewhere: dimension/bucket sides broadcast; fact scans
  * prune columns; per-row suites are bounded by a pushed-down key
  * predicate where the output would otherwise be the whole table; doubles
  * rounded 6dp and money as integer cents on BOTH engines.
  */
object AnalyticsQueries {

  private def t(s: SparkSession, d: String, name: String) = Tables.load(s, d, name)
  private def cents(c: Column) = round(c * 100, 0).cast("long")
  private def dec(c: Column): Column = c.cast("decimal(38,0)")

  /** DECIMAL(38,0) → BIGINT output cast that FAILS LOUDLY on overflow
    * instead of Spark's silent non-ANSI NULL (ADVICE r15: DuckDB's CAST
    * errors on overflow while Spark NULLs — an asymmetric failure mode.
    * This makes both engines fail the same way). The stats-tier exact
    * moments that use it (q_ks d_num ≤ n1·n2; q_mann_whitney 2U₁ ≤
    * 2n₁n₂ and t_ties = Σ(m³−m) ≤ n³) are < 2⁶³ at every driver SF,
    * but t_ties crosses 2⁶³ near n ≈ 2.8·10⁷ A/R rows on the uniform
    * 50-value quantity domain (n³/2500) — i.e. around lineitem sf≈10 —
    * so the guard is a real production tripwire, not decoration.
    */
  private def guardedLong(c: Column, name: String): Column =
    when(c.between(lit(Long.MinValue).cast("decimal(38,0)"),
      lit(Long.MaxValue).cast("decimal(38,0)")), c.cast("long"))
      .otherwise(raise_error(concat(lit(s"$name overflows BIGINT: "),
        c.cast("string"))).cast("long"))

  /** Capped blocked candidate pairs over distinct part names (block key =
    * the name's last token; Dedup.blockedPairs maxBlock=1000 cap) — ONE
    * definition shared by q_fuzzy_parts / q_fuzzy_jw / q_er_clusters so
    * the three engine queries and their oracles can never drift on the
    * block key or the cap (the directedTradeEdges discipline).
    */
  /** The co-purchase part graph shared by q_triangles and q_kcore (ONE
    * definition so the two censuses and their oracles agree on the edge
    * set): parts co-occurring in ≥2 orders, per-order fan capped at the
    * first 20 parts (the min-support + cap discipline that keeps a
    * co-occurrence build from going quadratic on a hot order).
    */
  /** Memo for the checkpointed co-purchase edge relation (ADVICE r15:
    * the eager localCheckpoint runs a Spark job at query-CONSTRUCTION
    * time, so schema-only consumers — RegistrySpec's all-queries lints,
    * Explain, Bench's ceiling re-constructions — paid the full aggregate
    * once per coPurchaseEdges() call, and each of the 10+ graph queries
    * paid its own. One job per (SparkContext, dir) now serves them all;
    * keyed WEAKLY by the context itself via [[ContextMemo]] because a
    * checkpointed plan dies with it.)
    */
  private def coPurchaseEdges(s: SparkSession, d: String): DataFrame =
    ContextMemo.getOrElseUpdate(s.sparkContext, s"copurchase:$d") {
    val lp = t(s, d, "lineitem")
      .select(col("l_orderkey"), col("l_partkey")).distinct()
      // pin the cap-window exchange width (byte-tiny → AQE would fold
      // the window + pair expansion onto one task; row-count-bound CPU)
      .repartition(s.sessionState.conf.numShufflePartitions,
        col("l_orderkey"))
    val wcap = Window.partitionBy(col("l_orderkey")).orderBy(col("l_partkey"))
    val capped = lp.withColumn("rn", row_number().over(wcap))
      .filter(col("rn") <= 20).select(col("l_orderkey"), col("l_partkey"))
    capped.select(col("l_orderkey"), col("l_partkey").as("u"))
      .join(capped.select(col("l_orderkey"), col("l_partkey").as("v")),
        Seq("l_orderkey"))
      .filter(col("u") < col("v"))
      .groupBy(col("u"), col("v")).agg(count(lit(1)).as("sup"))
      .filter(col("sup") >= 2).select(col("u"), col("v"))
      // Eager localCheckpoint (the TextAnalysis/Dedup discipline): the
      // edge relation is consumed MANY times by its graph consumers —
      // linkScores alone references it 11× through sym/deg/capped/anti
      // — and AQE exchange reuse does NOT collapse the forks (the
      // column-pruning fork trap, SKILL round-4): the r15 plan audit
      // found the pair-count aggregate computed SEVEN times inside
      // q_link_recs (the suspected r14 driver 8.06 s ceiling). One
      // fact-scan + aggregate, materialized once, O(|edges|) storage.
      .localCheckpoint(true)
  }

  /** The symmetrized edge set `e`: true degrees `deg(a, deg)` and the
    * wedges `(mid, u, w)`, u < w, over each center's first 64 neighbors
    * by id — shared by [[linkScores]] and q_lcc_topk.
    */
  private def cappedWedges(e: DataFrame): (DataFrame, DataFrame) = {
    val sym = e.select(col("u").as("a"), col("v").as("b"))
      .unionAll(e.select(col("v").as("a"), col("u").as("b")))
    val deg = sym.groupBy(col("a")).agg(count(lit(1)).as("deg"))
    val wcap = Window.partitionBy(col("a")).orderBy(col("b"))
    val capped = sym.withColumn("rn", row_number().over(wcap))
      .filter(col("rn") <= 64).drop("rn")
    val wedges = capped.select(col("a").as("mid"), col("b").as("u"))
      .join(capped.select(col("a").as("mid"), col("b").as("w")), Seq("mid"))
      .filter(col("u") < col("w"))
    (deg, wedges)
  }

  /** Link-prediction scores over [[coPurchaseEdges]] — ONE definition
    * shared by q_link_predict and q_link_recs so the pair set and the
    * three measures can never drift between the ranking and the per-node
    * recommendation views. Candidates are the NON-adjacent two-hop pairs:
    * a wedge self-join on the middle node with the per-center fan capped
    * at the first 64 neighbors by id (cap mirrored in the oracle via
    * ROW_NUMBER; TRUE degrees feed the formulas), then a left-anti
    * against the edge set. cn = common-neighbor count (exact long),
    * aa = Σ 1/ln(deg(v)) folded in SORTED degree order (sort_array +
    * aggregate HOF) so the float sum is partition-count-independent,
    * jaccard = cn/(deg_u + deg_w − cn) — one division, 6dp.
    */
  private def linkScores(s: SparkSession, d: String): DataFrame = {
    val e = coPurchaseEdges(s, d)
    val (deg, wedges) = cappedWedges(e)
    val nonAdj = wedges.join(
      e.select(col("u").as("eu"), col("v").as("ew")),
      col("u") === col("eu") && col("w") === col("ew"), "left_anti")
    val scored = nonAdj
      .join(deg.select(col("a").as("mid"), col("deg").as("deg_mid")),
        Seq("mid"))
      .groupBy(col("u"), col("w"))
      .agg(count(lit(1)).as("cn"),
        aggregate(sort_array(collect_list(col("deg_mid"))), lit(0.0),
          (acc, x) => acc + lit(1.0) / log(x)).as("aa"))
    scored
      .join(deg.select(col("a").as("u"), col("deg").as("deg_u")), Seq("u"))
      .join(deg.select(col("a").as("w"), col("deg").as("deg_w")), Seq("w"))
      .select(col("u"), col("w"), col("cn"), round(col("aa"), 6).as("aa_r"),
        ratio6(col("cn"), col("deg_u") + col("deg_w") - col("cn"))
          .as("jacc_r"))
  }

  /** The source×lang contingency cells `o` with their row total
    * `rtot`, column total `ctot` and `n_total` attached (marginals
    * broadcast) — shared by [[chi2Agg]] and q_chi2_residuals.
    */
  private def chi2Cells(s: SparkSession, d: String): DataFrame = {
    val cells = Tables.documents(s, d)
      .groupBy(col("source"), col("lang")).agg(count(lit(1)).as("o"))
    val rows = cells.groupBy(col("source")).agg(sum(col("o")).as("rtot"))
    val colsM = cells.groupBy(col("lang")).agg(sum(col("o")).as("ctot"))
    val tot = cells.agg(sum(col("o")).as("n_total"))
    cells.join(broadcast(rows), Seq("source"))
      .join(broadcast(colsM), Seq("lang"))
      .crossJoin(broadcast(tot))
  }

  /** The χ² independence chain over the source×lang contingency —
    * ONE definition shared by q_chi2_independence and q_cramers_v:
    * exact DECIMAL numerators per cell, the float term folded in
    * sorted cell order (partition-count-independent), marginals
    * broadcast. Returns one row: (chi2 UNROUNDED double, n_total,
    * nr, nc).
    */
  private def chi2Agg(s: SparkSession, d: String): DataFrame = {
    val numd = (dec(col("o")) * dec(col("n_total")) -
      dec(col("rtot")) * dec(col("ctot"))).cast("double")
    val terms = chi2Cells(s, d)
      .select(col("source"), col("lang"), col("o"), col("n_total"),
        (numd * numd /
          (dec(col("rtot")) * dec(col("ctot"))).cast("double") /
          col("n_total").cast("double")).as("term"))
    terms.agg(
      aggregate(
        sort_array(collect_list(struct(col("source"), col("lang"),
          col("term")))),
        lit(0.0), (acc, x) => acc + x.getField("term")).as("chi2"),
      countDistinct(col("source")).as("nr"),
      countDistinct(col("lang")).as("nc"),
      sum(col("o")).as("n_total"))
  }

  private val momentNames = Seq("qty", "price", "disc", "tax")

  /** One single-row aggregate of exact lineitem moments over
    * [[momentNames]] (quantity and integer cents): `n`, `s_<c>` and
    * `sp_<c>_<c'>` (c <= c') as DECIMAL(38,0) sums — shared by
    * q_corr_matrix and q_pca_power.
    */
  private def lineitemMoments(s: SparkSession, d: String): DataFrame = {
    val names = momentNames
    val li = t(s, d, "lineitem").select(
      col("l_quantity").cast("long").as("qty"),
      cents(col("l_extendedprice")).as("price"),
      cents(col("l_discount")).as("disc"),
      cents(col("l_tax")).as("tax"))
    val pairAggs = for {
      i <- names.indices; j <- i until names.size
    } yield sum((col(names(i)) * col(names(j))).cast("decimal(38,0)"))
      .as(s"sp_${names(i)}_${names(j)}")
    val aggs = (count(lit(1)).cast("decimal(38,0)").as("n") +:
      names.map(nm => sum(col(nm).cast("decimal(38,0)")).as(s"s_$nm"))) ++
      pairAggs
    li.agg(aggs.head, aggs.tail: _*)
  }

  private def blockedPartPairs(s: SparkSession, d: String): DataFrame = {
    val names = t(s, d, "part").select(col("p_name")).distinct()
      .withColumn("block", element_at(split(col("p_name"), " "), -1))
    graft.operators.Dedup.blockedPairs(names, "block", "p_name", maxBlock = 1000)
  }

  /** The Jaro-Winkler match relation (blocked candidates → 6dp-rounded
    * codegen'd JW score → ≥0.9 threshold) — shared by q_fuzzy_jw (which
    * reports it) and q_er_clusters (which clusters it), so
    * FrontierSamplingSpec's cross-check that q_er_clusters clusters
    * exactly the q_fuzzy_jw pair set is true by construction.
    */
  private def jwMatches(s: SparkSession, d: String): DataFrame =
    blockedPartPairs(s, d)
      .withColumn("jw_r", round(
        graft.functions.TextHashFunctions.jaro_winkler(col("a"), col("b")), 6))
      .filter(col("jw_r") >= 0.9)

  /** The oracles' blocking of distinct `part` names on their last word:
    * `n(p_name, block)` and `r(p_name, block, rn)` with `rn` the name's
    * rank inside its block. */
  private val partBlockCtes =
    """n AS (
      |  SELECT DISTINCT p_name,
      |    list_extract(string_split(p_name, ' '), -1) AS block
      |  FROM part
      |), r AS (
      |  SELECT p_name, block,
      |    ROW_NUMBER() OVER (PARTITION BY block ORDER BY p_name) AS rn
      |  FROM n
      |)""".stripMargin

  /** Dedup.blockedPairs' capped candidates over [[partBlockCtes]]: the
    * first 1000 names of a block pair fully, later ones pair once with
    * the block's first name. Exposes `cand(block, a, b)`. */
  private val cappedNameCandCte =
    """cand AS (
      |  SELECT a.block, a.p_name AS a, b.p_name AS b
      |  FROM r a JOIN r b ON a.block = b.block AND a.p_name < b.p_name
      |  WHERE a.rn <= 1000 AND b.rn <= 1000
      |  UNION ALL
      |  SELECT o.block, m.p_name AS a, o.p_name AS b
      |  FROM r o JOIN r m ON o.block = m.block AND m.rn = 1
      |  WHERE o.rn > 1000
      |)""".stripMargin

  /** The oracles' source×lang contingency: `cells(source, lang, o)`,
    * row and column marginals `r`/`cl` and the total `tt(n_total)`. */
  private val chi2CellCtes =
    """cells AS (
      |  SELECT source, lang, COUNT(*) AS o FROM documents GROUP BY 1, 2),
      |r AS (SELECT source, CAST(SUM(o) AS BIGINT) AS rtot
      |      FROM cells GROUP BY 1),
      |cl AS (SELECT lang, CAST(SUM(o) AS BIGINT) AS ctot
      |       FROM cells GROUP BY 1),
      |tt AS (SELECT CAST(SUM(o) AS BIGINT) AS n_total FROM cells)""".stripMargin

  /** [[chi2CellCtes]] + the per-cell χ² term (exact DECIMAL numerator,
    * float division): `terms(o, source, lang, term)`. */
  private val chi2TermCtes =
    s"""$chi2CellCtes,
       |nums AS (
       |  SELECT c.o, c.source, c.lang,
       |    CAST(CAST(c.o AS DECIMAL(38,0)) * CAST(t.n_total AS DECIMAL(38,0))
       |      - CAST(r.rtot AS DECIMAL(38,0)) * CAST(cl.ctot AS DECIMAL(38,0))
       |      AS DOUBLE) AS numd,
       |    CAST(CAST(r.rtot AS DECIMAL(38,0)) * CAST(cl.ctot AS DECIMAL(38,0)) AS DOUBLE) AS dend,
       |    CAST(t.n_total AS DOUBLE) AS ntd
       |  FROM cells c JOIN r USING (source) JOIN cl USING (lang), tt t),
       |terms AS (
       |  SELECT o, source, lang, numd * numd / dend / ntd AS term
       |  FROM nums)""".stripMargin

  // DuckDB mirror of Dedup.tokens over the documents table (same contract
  // as TextQueries.duckToks — kept in sync with the tokenizer scaladoc)
  private val duckDocToks =
    """list_filter(string_split_regex(lower(regexp_replace(text, '[^\p{L}\p{N}\s]', ' ', 'g')), '\s+'), x -> len(x) > 0)"""

  val declarations: Seq[Query] = Seq(
    // FULL OUTER join of two pre-aggregated relations (per-nation customer
    // vs supplier counts): both sides reduced before the join, so the
    // outer join itself is tiny regardless of fact scale.
    Query("q_join_outer", (s, d) => {
      val c = t(s, d, "customer").groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("n_cust"))
      val sp = t(s, d, "supplier").groupBy(col("s_nationkey"))
        .agg(count(lit(1)).as("n_supp"))
      c.join(sp, col("c_nationkey") === col("s_nationkey"), "full_outer")
        .select(
          coalesce(col("c_nationkey"), col("s_nationkey")).cast("long").as("nationkey"),
          coalesce(col("n_cust"), lit(0L)).as("n_cust"),
          coalesce(col("n_supp"), lit(0L)).as("n_supp"))
        .orderBy(col("nationkey"))
    }, Sql(
      """WITH c AS (SELECT c_nationkey, COUNT(*) AS n_cust FROM customer GROUP BY 1),
        |s AS (SELECT s_nationkey, COUNT(*) AS n_supp FROM supplier GROUP BY 1)
        |SELECT CAST(COALESCE(c_nationkey, s_nationkey) AS BIGINT) AS nationkey,
        |  COALESCE(n_cust, 0) AS n_cust, COALESCE(n_supp, 0) AS n_supp
        |FROM c FULL OUTER JOIN s ON c_nationkey = s_nationkey
        |ORDER BY nationkey""".stripMargin), headline = false),

    // LEFT OUTER fact-side: every order keeps a row even with no matching
    // (filtered) lineitems — revenue coalesced to 0.
    Query("q_join_left", (s, d) => {
      val li = t(s, d, "lineitem").filter(col("l_returnflag") === "R")
        .groupBy(col("l_orderkey"))
        .agg(sum(cents(col("l_extendedprice"))).as("ret_rev_c"))
      t(s, d, "orders").select(col("o_orderkey"), col("o_custkey"))
        .join(li, col("o_orderkey") === col("l_orderkey"), "left_outer")
        .select(col("o_orderkey"), col("o_custkey"),
          coalesce(col("ret_rev_c"), lit(0L)).as("ret_rev_c"))
        .orderBy(col("o_orderkey"))
    }, Sql(
      """WITH li AS (
        |  SELECT l_orderkey,
        |    CAST(SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT)) AS BIGINT) AS ret_rev_c
        |  FROM lineitem WHERE l_returnflag = 'R' GROUP BY 1)
        |SELECT o_orderkey, o_custkey, COALESCE(ret_rev_c, 0) AS ret_rev_c
        |FROM orders LEFT JOIN li ON o_orderkey = l_orderkey
        |ORDER BY o_orderkey""".stripMargin), headline = false),

    // Analytic window battery per customer: lead, first/last value with an
    // explicit full frame, ntile, percent_rank, cume_dist. Partitioned on
    // the high-cardinality key — no global window.
    Query("q_window_analytics", (s, d) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      val wf = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      t(s, d, "orders")
        .select(col("o_custkey"), col("o_orderkey"),
          col("o_orderdate"), cents(col("o_totalprice")).as("price_c"))
        .withColumn("next_order", lead(col("o_orderkey"), 1).over(w))
        .withColumn("first_price_c", first(col("price_c")).over(wf))
        .withColumn("last_price_c", last(col("price_c")).over(wf))
        .withColumn("quartile", ntile(4).over(w).cast("long"))
        // percent_rank/cume_dist re-derived as EXACT integer ratios
        // ((rank−1)/(n−1), peers≤current/n): library PERCENT_RANK is a
        // double division whose true value terminates at 6dp whenever
        // n−1 is 2/5-smooth — the ROUND(DOUBLE) seam (ExactRatio)
        .withColumn("n_part",
          count(lit(1)).over(Window.partitionBy(col("o_custkey"))))
        .withColumn("pr", when(col("n_part") === 1, lit(0.0)).otherwise(
          ratio6(rank().over(w) - 1, col("n_part") - 1)))
        .withColumn("cd", ratio6(count(lit(1)).over(w), col("n_part")))
        .select(col("o_custkey"), col("o_orderkey"), col("next_order"),
          col("first_price_c"), col("last_price_c"), col("quartile"),
          col("pr"), col("cd"))
        .orderBy(col("o_custkey"), col("o_orderkey"))
    }, Sql(
      s"""SELECT o_custkey, o_orderkey,
        |  LEAD(o_orderkey, 1) OVER w AS next_order,
        |  FIRST_VALUE(price_c) OVER wf AS first_price_c,
        |  LAST_VALUE(price_c) OVER wf AS last_price_c,
        |  CAST(NTILE(4) OVER w AS BIGINT) AS quartile,
        |  CASE WHEN COUNT(*) OVER wp = 1 THEN 0.0
        |       ELSE ${ratio6Sql("RANK() OVER w - 1", "COUNT(*) OVER wp - 1")}
        |  END AS pr,
        |  ${ratio6Sql("COUNT(*) OVER w", "COUNT(*) OVER wp")} AS cd
        |FROM (SELECT o_custkey, o_orderkey, o_orderdate,
        |        CAST(ROUND(o_totalprice*100) AS BIGINT) AS price_c FROM orders)
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
        |  wp AS (PARTITION BY o_custkey),
        |  wf AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |ORDER BY o_custkey, o_orderkey""".stripMargin), headline = false),

    // Statistical aggregate suite per return flag. Spark's skewness /
    // kurtosis are POPULATION moments (g1, excess g2); the oracle converts
    // DuckDB's sample skewness back to g1 and uses kurtosis_pop directly.
    Query("q_stats_agg", (s, d) => {
      t(s, d, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          count(lit(1)).as("n"),
          round(stddev_samp(col("l_quantity")), 6).as("sd_qty"),
          round(stddev_pop(col("l_quantity")), 6).as("sdp_qty"),
          round(var_samp(col("l_quantity")), 6).as("var_qty"),
          round(var_pop(col("l_quantity")), 6).as("varp_qty"),
          round(corr(col("l_quantity"), col("l_extendedprice")), 6).as("corr_qp"),
          round(covar_samp(col("l_quantity"), col("l_discount")), 6).as("cov_qd"),
          round(covar_pop(col("l_quantity"), col("l_discount")), 6).as("covp_qd"),
          round(skewness(col("l_quantity")), 6).as("skew_qty"),
          round(kurtosis(col("l_quantity")), 6).as("kurt_qty"))
        .orderBy(col("l_returnflag"))
    }, Sql(
      """SELECT l_returnflag, COUNT(*) AS n,
        |  ROUND(stddev_samp(l_quantity), 6) AS sd_qty,
        |  ROUND(stddev_pop(l_quantity), 6) AS sdp_qty,
        |  ROUND(var_samp(l_quantity), 6) AS var_qty,
        |  ROUND(var_pop(l_quantity), 6) AS varp_qty,
        |  ROUND(corr(l_quantity, l_extendedprice), 6) AS corr_qp,
        |  ROUND(covar_samp(l_quantity, l_discount), 6) AS cov_qd,
        |  ROUND(covar_pop(l_quantity, l_discount), 6) AS covp_qd,
        |  ROUND(skewness(l_quantity) * (COUNT(*)-2)
        |        / sqrt(COUNT(*)*(COUNT(*)-1.0)), 6) AS skew_qty,
        |  ROUND(kurtosis_pop(l_quantity), 6) AS kurt_qty
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    // Exact percentiles (interpolated) + median per return flag — the
    // exact path next to percentile_approx (A3's sketch form, q_pop_stats).
    Query("q_percentiles", (s, d) => {
      t(s, d, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          round(expr("percentile(l_quantity, 0.25)"), 6).as("p25"),
          round(expr("percentile(l_quantity, 0.5)"), 6).as("p50"),
          round(expr("percentile(l_quantity, 0.75)"), 6).as("p75"),
          round(median(col("l_quantity")), 6).as("med"))
        .orderBy(col("l_returnflag"))
    }, Sql(
      """SELECT l_returnflag,
        |  ROUND(CAST(quantile_cont(l_quantity, 0.25) AS DOUBLE), 6) AS p25,
        |  ROUND(CAST(quantile_cont(l_quantity, 0.5) AS DOUBLE), 6) AS p50,
        |  ROUND(CAST(quantile_cont(l_quantity, 0.75) AS DOUBLE), 6) AS p75,
        |  ROUND(CAST(median(l_quantity) AS DOUBLE), 6) AS med
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),
      headline = false),

    // Positional aggregates: deterministic argmax/argmin via max/min over
    // a totally-ordered struct (price, orderkey, linenumber — no ties
    // possible), plus max_by/min_by on the equivalent packed key, plus a
    // deterministic mode.
    Query("q_minmax_by", (s, d) => {
      val priced = t(s, d, "lineitem").select(
        col("l_linestatus"),
        cents(col("l_extendedprice")).as("price_c"),
        col("l_orderkey"), col("l_linenumber").cast("long").as("lineno"),
        col("l_returnflag"))
      // packed total-order key for max_by/min_by: price ⊕ orderkey ⊕ lineno
      val packed = col("price_c") * 100000000L + col("l_orderkey") * 10L + col("lineno")
      priced.groupBy(col("l_linestatus"))
        .agg(
          max(struct(col("price_c"), col("l_orderkey"), col("lineno"))).as("mx"),
          min(struct(col("price_c"), col("l_orderkey"), col("lineno"))).as("mn"),
          max_by(col("l_orderkey"), packed).as("argmax_okey"),
          min_by(col("l_orderkey"), packed).as("argmin_okey"),
          mode(col("l_returnflag"), deterministic = true).as("mode_rf"))
        .select(col("l_linestatus"),
          col("mx.price_c").as("max_price_c"),
          col("mx.l_orderkey").as("max_okey"),
          col("mx.lineno").as("max_lineno"),
          col("mn.price_c").as("min_price_c"),
          col("argmax_okey"), col("argmin_okey"), col("mode_rf"))
        .orderBy(col("l_linestatus"))
    }, Sql(
      """WITH priced AS (
        |  SELECT l_linestatus,
        |    CAST(ROUND(l_extendedprice*100) AS BIGINT) AS price_c,
        |    l_orderkey, CAST(l_linenumber AS BIGINT) AS lineno, l_returnflag
        |  FROM lineitem),
        |rfc AS (
        |  SELECT l_linestatus, l_returnflag, COUNT(*) AS c
        |  FROM priced GROUP BY 1, 2),
        |modes AS (
        |  SELECT l_linestatus, l_returnflag AS mode_rf
        |  FROM rfc
        |  QUALIFY ROW_NUMBER() OVER (PARTITION BY l_linestatus
        |    ORDER BY c DESC, l_returnflag) = 1),
        |g AS (
        |  SELECT l_linestatus,
        |    max({'price_c': price_c, 'l_orderkey': l_orderkey, 'lineno': lineno}) AS mx,
        |    min({'price_c': price_c, 'l_orderkey': l_orderkey, 'lineno': lineno}) AS mn,
        |    arg_max(l_orderkey, price_c*100000000 + l_orderkey*10 + lineno) AS argmax_okey,
        |    arg_min(l_orderkey, price_c*100000000 + l_orderkey*10 + lineno) AS argmin_okey
        |  FROM priced GROUP BY l_linestatus)
        |SELECT g.l_linestatus,
        |  mx.price_c AS max_price_c, mx.l_orderkey AS max_okey, mx.lineno AS max_lineno,
        |  mn.price_c AS min_price_c, argmax_okey, argmin_okey, mode_rf
        |FROM g JOIN modes ON g.l_linestatus = modes.l_linestatus
        |ORDER BY g.l_linestatus""".stripMargin), headline = false),

    // String scalar-function suite over a pushed-down part slice (predicate
    // reaches the parquet scan; the suite itself is pure codegen'd
    // projection).
    Query("q_string_funcs", (s, d) => {
      t(s, d, "part").filter(col("p_partkey") < 100)
        .select(
          col("p_partkey"),
          upper(col("p_name")).as("u"),
          length(col("p_name")).cast("long").as("len"),
          substring(col("p_name"), 1, 5).as("sub"),
          lpad(col("p_brand"), 12, "*").as("lp"),
          rpad(col("p_type"), 10, ".").as("rp"),
          reverse(col("p_type")).as("rev"),
          translate(col("p_name"), "aeiou", "AEIOU").as("tr"),
          levenshtein(col("p_brand"), lit("Brand#11")).cast("long").as("lev"),
          regexp_extract(col("p_name"), "^(\\w+)", 1).as("first_word"),
          element_at(split(col("p_name"), " "), -1).as("last_word"),
          instr(col("p_name"), "e").cast("long").as("pos_e"),
          repeat(col("p_brand"), 2).as("rep"),
          concat_ws("|", col("p_brand"), col("p_type")).as("cw"))
        .orderBy(col("p_partkey"))
    }, Sql(
      """SELECT p_partkey,
        |  upper(p_name) AS u,
        |  CAST(length(p_name) AS BIGINT) AS len,
        |  substring(p_name, 1, 5) AS sub,
        |  lpad(p_brand, 12, '*') AS lp,
        |  rpad(p_type, 10, '.') AS rp,
        |  reverse(p_type) AS rev,
        |  translate(p_name, 'aeiou', 'AEIOU') AS tr,
        |  CAST(levenshtein(p_brand, 'Brand#11') AS BIGINT) AS lev,
        |  regexp_extract(p_name, '^(\w+)', 1) AS first_word,
        |  string_split(p_name, ' ')[-1] AS last_word,
        |  CAST(strpos(p_name, 'e') AS BIGINT) AS pos_e,
        |  repeat(p_brand, 2) AS rep,
        |  concat_ws('|', p_brand, p_type) AS cw
        |FROM part WHERE p_partkey < 100 ORDER BY p_partkey""".stripMargin), headline = false),

    // Date/time scalar-function suite over an orders slice. dayofweek is
    // 1=Sunday in Spark vs 0=Sunday in DuckDB (oracle adds 1); both use
    // ISO weeks. Timestamps leave the query as DATE (µs-safe, TZ-free).
    Query("q_date_funcs", (s, d) => {
      t(s, d, "orders").filter(col("o_orderkey") < 500)
        .select(
          col("o_orderkey"),
          year(col("o_orderdate")).cast("long").as("y"),
          month(col("o_orderdate")).cast("long").as("m"),
          quarter(col("o_orderdate")).cast("long").as("q"),
          dayofmonth(col("o_orderdate")).cast("long").as("dom"),
          dayofweek(col("o_orderdate")).cast("long").as("dow"),
          weekofyear(col("o_orderdate")).cast("long").as("woy"),
          date_trunc("month", col("o_orderdate")).cast("date").as("month_start"),
          datediff(col("o_orderdate").cast("date"), lit("1995-01-01").cast("date"))
            .cast("long").as("days_since_epoch_start"),
          add_months(col("o_orderdate").cast("date"), 3).as("plus3m"),
          last_day(col("o_orderdate").cast("date")).as("eom"))
        .orderBy(col("o_orderkey"))
    }, Sql(
      """SELECT o_orderkey,
        |  CAST(year(o_orderdate) AS BIGINT) AS y,
        |  CAST(month(o_orderdate) AS BIGINT) AS m,
        |  CAST(quarter(o_orderdate) AS BIGINT) AS q,
        |  CAST(dayofmonth(o_orderdate) AS BIGINT) AS dom,
        |  CAST(dayofweek(o_orderdate) + 1 AS BIGINT) AS dow,
        |  CAST(weekofyear(o_orderdate) AS BIGINT) AS woy,
        |  CAST(date_trunc('month', o_orderdate) AS DATE) AS month_start,
        |  CAST(date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS BIGINT)
        |    AS days_since_epoch_start,
        |  CAST(CAST(o_orderdate AS DATE) + INTERVAL 3 MONTH AS DATE) AS plus3m,
        |  last_day(CAST(o_orderdate AS DATE)) AS eom
        |FROM orders WHERE o_orderkey < 500 ORDER BY o_orderkey""".stripMargin), headline = false),

    // Array function suite: construction (sequence/split), sort, contains,
    // position, element math via zip_with, flatten — emitted as scalars /
    // joined strings so the value-hash is engine-independent.
    Query("q_array_funcs", (s, d) => {
      val seqCol = sequence(lit(1), (col("p_size") % 5) + 1)
      t(s, d, "part").filter(col("p_partkey") < 200)
        .select(
          col("p_partkey"),
          concat_ws(",", array_sort(split(col("p_name"), " "))).as("sorted_words"),
          array_contains(split(col("p_name"), " "), "red").as("has_red"),
          array_position(split(col("p_name"), " "), element_at(split(col("p_name"), " "), -1))
            .cast("long").as("last_pos"),
          size(seqCol).cast("long").as("seq_n"),
          aggregate(seqCol, lit(0L), (acc, x) => acc + x).as("seq_sum"),
          concat_ws(",", zip_with(seqCol, seqCol, (a, b) => a + b)).as("doubled"),
          concat_ws(",", flatten(array(array(col("p_brand")), array(col("p_type")))))
            .as("flat"))
        .orderBy(col("p_partkey"))
    }, Sql(
      """SELECT p_partkey,
        |  array_to_string(list_sort(string_split(p_name, ' ')), ',') AS sorted_words,
        |  list_contains(string_split(p_name, ' '), 'red') AS has_red,
        |  CAST(list_position(string_split(p_name, ' '),
        |    string_split(p_name, ' ')[-1]) AS BIGINT) AS last_pos,
        |  CAST(p_size % 5 + 1 AS BIGINT) AS seq_n,
        |  CAST(list_reduce(range(1, p_size % 5 + 2), (a, b) -> a + b) AS BIGINT) AS seq_sum,
        |  array_to_string(list_transform(range(1, p_size % 5 + 2), x -> x * 2), ',') AS doubled,
        |  concat_ws(',', p_brand, p_type) AS flat
        |FROM part WHERE p_partkey < 200 ORDER BY p_partkey""".stripMargin), headline = false),

    // Map type surface: build, extract, cardinality, sorted keys — scalar
    // outputs (map parquet encodings are not hash-comparable across
    // engines).
    Query("q_map_funcs", (s, d) => {
      val m = map_from_arrays(
        array(lit("brand"), lit("type")),
        array(col("p_brand"), col("p_type")))
      t(s, d, "part").filter(col("p_partkey") < 200)
        .select(
          col("p_partkey"),
          element_at(m, "brand").as("brand_v"),
          element_at(m, "type").as("type_v"),
          size(m).cast("long").as("m_n"),
          concat_ws(",", array_sort(map_keys(m))).as("m_keys"))
        .orderBy(col("p_partkey"))
    }, Sql(
      """SELECT p_partkey,
        |  map_extract(map(['brand','type'], [p_brand, p_type]), 'brand')[1] AS brand_v,
        |  map_extract(map(['brand','type'], [p_brand, p_type]), 'type')[1] AS type_v,
        |  CAST(cardinality(map(['brand','type'], [p_brand, p_type])) AS BIGINT) AS m_n,
        |  array_to_string(list_sort(map_keys(map(['brand','type'], [p_brand, p_type]))), ',')
        |    AS m_keys
        |FROM part WHERE p_partkey < 200 ORDER BY p_partkey""".stripMargin), headline = false),

    // TPC-H Q1 (full): the canonical scan→filter→agg shape; shipdate
    // predicate pushed to parquet, money exact in cents (discount/tax in
    // tenths of a percent to stay integral).
    Query("q_tpch_q1", (s, d) => {
      t(s, d, "lineitem")
        .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(cents(col("l_quantity"))).as("sum_qty_c"),
          sum(cents(col("l_extendedprice"))).as("sum_base_c"),
          sum(cents(col("l_extendedprice") * (lit(1.0) - col("l_discount")))).as("sum_disc_c"),
          sum(cents(col("l_extendedprice") * (lit(1.0) - col("l_discount"))
            * (lit(1.0) + col("l_tax")))).as("sum_charge_c"),
          ratio6(sum(cents(col("l_quantity"))), count(lit(1)) * 100)
            .as("avg_qty"),
          ratio6(sum(cents(col("l_discount"))), count(lit(1)) * 100)
            .as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    }, Sql(
      s"""SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(ROUND(l_quantity*100) AS BIGINT)) AS BIGINT) AS sum_qty_c,
        |  CAST(SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT)) AS BIGINT) AS sum_base_c,
        |  CAST(SUM(CAST(ROUND(l_extendedprice*(1.0-l_discount)*100) AS BIGINT)) AS BIGINT) AS sum_disc_c,
        |  CAST(SUM(CAST(ROUND(l_extendedprice*(1.0-l_discount)*(1.0+l_tax)*100) AS BIGINT)) AS BIGINT) AS sum_charge_c,
        |  ${ratio6Sql("SUM(CAST(ROUND(l_quantity*100) AS BIGINT))",
                       "COUNT(*) * 100")} AS avg_qty,
        |  ${ratio6Sql("SUM(CAST(ROUND(l_discount*100) AS BIGINT))",
                       "COUNT(*) * 100")} AS avg_disc,
        |  COUNT(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin)),

    // TPC-H Q3 shape: segment-filtered customer (broadcast) ⋈ orders ⋈
    // lineitem, revenue top-10 with full tiebreak — orderBy+limit is
    // TakeOrdered, not a global sort.
    Query("q_tpch_q3", (s, d) => {
      val c = t(s, d, "customer").filter(col("c_mktsegment") === "BUILDING")
        .select(col("c_custkey"))
      val o = t(s, d, "orders")
        .filter(col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"), col("o_orderpriority"))
      val l = t(s, d, "lineitem")
        .filter(col("l_shipdate") > lit("1998-01-01").cast("timestamp"))
        .select(col("l_orderkey"),
          cents(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("rev_c"))
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .groupBy(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority"))
        .agg(sum(col("rev_c")).as("revenue_c"))
        .select(col("o_orderkey"), col("o_orderdate").cast("date").as("odate"),
          col("o_orderpriority"), col("revenue_c"))
        .orderBy(col("revenue_c").desc, col("o_orderkey"))
        .limit(10)
    }, Sql(
      """SELECT o_orderkey, CAST(o_orderdate AS DATE) AS odate, o_orderpriority,
        |  CAST(SUM(CAST(ROUND(l_extendedprice*(1.0-l_discount)*100) AS BIGINT)) AS BIGINT) AS revenue_c
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        |  AND l_shipdate > TIMESTAMP '1998-01-01 00:00:00'
        |GROUP BY o_orderkey, o_orderdate, o_orderpriority
        |ORDER BY revenue_c DESC, o_orderkey
        |LIMIT 10""".stripMargin)),

    // TPC-H Q10 shape: returned-item revenue per customer, top 20.
    Query("q_tpch_q10", (s, d) => {
      val l = t(s, d, "lineitem").filter(col("l_returnflag") === "R")
        .select(col("l_orderkey"),
          cents(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("rev_c"))
      val o = t(s, d, "orders")
        .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp"))
        .filter(col("o_orderdate") < lit("1996-04-01").cast("timestamp"))
        .select(col("o_orderkey"), col("o_custkey"))
      val c = t(s, d, "customer")
        .select(col("c_custkey"), col("c_name"), col("c_acctbal"), col("c_nationkey"))
      val n = t(s, d, "nation").select(col("n_nationkey"), col("n_name"))
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("c_custkey"), col("c_name"), col("n_name"))
        .agg(sum(col("rev_c")).as("revenue_c"),
          round(min(col("c_acctbal")), 6).as("acctbal"))
        .orderBy(col("revenue_c").desc, col("c_custkey"))
        .limit(20)
    }, Sql(
      """SELECT c_custkey, c_name, n_name,
        |  CAST(SUM(CAST(ROUND(l_extendedprice*(1.0-l_discount)*100) AS BIGINT)) AS BIGINT) AS revenue_c,
        |  ROUND(MIN(c_acctbal), 6) AS acctbal
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE l_returnflag = 'R'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
        |GROUP BY c_custkey, c_name, n_name
        |ORDER BY revenue_c DESC, c_custkey
        |LIMIT 20""".stripMargin), headline = false),

    // TPC-H Q5 shape: region-filtered six-way join, revenue per nation.
    Query("q_tpch_q5", (s, d) => {
      val r = t(s, d, "region").filter(col("r_name") === "ASIA")
        .select(col("r_regionkey"))
      val n = t(s, d, "nation").select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
      val c = t(s, d, "customer").select(col("c_custkey"), col("c_nationkey"))
      val o = t(s, d, "orders")
        .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp"))
        .filter(col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
        .select(col("o_orderkey"), col("o_custkey"))
      val l = t(s, d, "lineitem")
        .select(col("l_orderkey"), col("l_suppkey"),
          cents(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("rev_c"))
      val sup = t(s, d, "supplier").select(col("s_suppkey"), col("s_nationkey"))
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .join(broadcast(sup), col("l_suppkey") === col("s_suppkey")
          && col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("n_name"))
        .agg(sum(col("rev_c")).as("revenue_c"))
        .orderBy(col("revenue_c").desc, col("n_name"))
    }, Sql(
      """SELECT n_name,
        |  CAST(SUM(CAST(ROUND(l_extendedprice*(1.0-l_discount)*100) AS BIGINT)) AS BIGINT) AS revenue_c
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
        |GROUP BY n_name ORDER BY revenue_c DESC, n_name""".stripMargin)),

    // TPC-H Q6 shape: pure scan-filter-aggregate (the pushdown showcase).
    Query("q_tpch_q6", (s, d) => {
      t(s, d, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp"))
        .filter(col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
        .filter(col("l_discount") >= 0.03 && col("l_discount") <= 0.05)
        .filter(col("l_quantity") < 24)
        .agg(sum(cents(col("l_extendedprice") * col("l_discount"))).as("revenue_c"),
          count(lit(1)).as("n"))
    }, Sql(
      """SELECT
        |  CAST(SUM(CAST(ROUND(l_extendedprice*l_discount*100) AS BIGINT)) AS BIGINT) AS revenue_c,
        |  COUNT(*) AS n
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
        |  AND l_discount BETWEEN 0.03 AND 0.05
        |  AND l_quantity < 24""".stripMargin)),

    // TPC-H Q14 shape: conditional aggregation ratio (promo revenue share).
    Query("q_tpch_q14", (s, d) => {
      val p = t(s, d, "part").select(col("p_partkey"), col("p_type"))
      t(s, d, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-03-01").cast("timestamp"))
        .filter(col("l_shipdate") < lit("1996-04-01").cast("timestamp"))
        .select(col("l_partkey"),
          cents(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("rev_c"))
        .join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .agg(ratio6(
          sum(when(col("p_type").startsWith("PROMO"), col("rev_c")).otherwise(0L))
            * 100, sum(col("rev_c"))).as("promo_pct"))
    }, Sql(
      s"""SELECT ${ratio6Sql(
             "SUM(CASE WHEN p_type LIKE 'PROMO%' " +
               "THEN CAST(ROUND(l_extendedprice*(1.0-l_discount)*100) AS BIGINT) " +
               "ELSE 0 END) * 100",
             "SUM(CAST(ROUND(l_extendedprice*(1.0-l_discount)*100) AS BIGINT))")}
        |  AS promo_pct
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE l_shipdate >= TIMESTAMP '1996-03-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'""".stripMargin), headline = false),

    // TPC-H Q4 shape: correlated EXISTS (predicate subquery). Catalyst's
    // RewritePredicateSubquery turns the EXISTS into a LEFT SEMI join on
    // l_orderkey — no per-row subquery execution; the lineitem side is
    // reduced by the pushed returnflag predicate before the join.
    // (The testdata has no l_commitdate/l_receiptdate; the returnflag
    // predicate stands in — the decorrelation shape is identical.)
    Query("q_tpch_q4", (s, d) => {
      t(s, d, "orders").createOrReplaceTempView("graft_ord")
      t(s, d, "lineitem").createOrReplaceTempView("graft_li")
      s.sql(
        """SELECT o_orderpriority, COUNT(*) AS order_count
          |FROM graft_ord
          |WHERE o_orderdate >= TIMESTAMP '1996-07-01 00:00:00'
          |  AND o_orderdate < TIMESTAMP '1996-10-01 00:00:00'
          |  AND EXISTS (SELECT 1 FROM graft_li
          |              WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
          |GROUP BY o_orderpriority
          |ORDER BY o_orderpriority""".stripMargin)
    }, Sql(
      """SELECT o_orderpriority, COUNT(*) AS order_count
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1996-07-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1996-10-01 00:00:00'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin)),

    // TPC-H Q17 shape: correlated SCALAR subquery (per-part average
    // threshold). RewriteCorrelatedScalarSubquery decorrelates it into
    // one per-partkey aggregate joined back on l_partkey — the aggregate
    // runs ONCE over lineitem, not once per outer row. l_quantity is
    // integral-valued double, so the 0.5*AVG threshold is exact under any
    // partial-aggregation order (no float-drift flakiness in the <).
    Query("q_tpch_q17", (s, d) => {
      t(s, d, "lineitem").createOrReplaceTempView("graft_li")
      t(s, d, "part").createOrReplaceTempView("graft_part")
      s.sql(
        """SELECT
          |  CAST(SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT)) AS BIGINT) AS sum_price_c,
          |  COUNT(*) AS n
          |FROM graft_li JOIN graft_part ON p_partkey = l_partkey
          |WHERE p_brand = 'Brand#1'
          |  AND l_quantity < (SELECT 0.5 * AVG(l2.l_quantity)
          |                    FROM graft_li l2 WHERE l2.l_partkey = p_partkey)""".stripMargin)
    }, Sql(
      """SELECT
        |  CAST(SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT)) AS BIGINT) AS sum_price_c,
        |  COUNT(*) AS n
        |FROM lineitem JOIN part ON p_partkey = l_partkey
        |WHERE p_brand = 'Brand#1'
        |  AND l_quantity < (SELECT 0.5 * AVG(l2.l_quantity)
        |                    FROM lineitem l2 WHERE l2.l_partkey = p_partkey)""".stripMargin)),

    // TPC-H Q18 shape: IN-subquery over a HAVING-filtered aggregate
    // (large-volume orders). Planned as one lineitem aggregate → filter →
    // LEFT SEMI join into the fact path; customer dim broadcasts.
    Query("q_tpch_q18", (s, d) => {
      t(s, d, "customer").createOrReplaceTempView("graft_cust")
      t(s, d, "orders").createOrReplaceTempView("graft_ord")
      t(s, d, "lineitem").createOrReplaceTempView("graft_li")
      s.sql(
        """SELECT c_name, c_custkey, o_orderkey,
          |  CAST(o_orderdate AS DATE) AS odate,
          |  CAST(ROUND(o_totalprice*100) AS BIGINT) AS totalprice_c,
          |  CAST(SUM(CAST(ROUND(l_quantity*100) AS BIGINT)) AS BIGINT) AS sum_qty_c
          |FROM graft_cust
          |JOIN graft_ord ON c_custkey = o_custkey
          |JOIN graft_li ON o_orderkey = l_orderkey
          |WHERE o_orderkey IN (SELECT l_orderkey FROM graft_li
          |                     GROUP BY l_orderkey HAVING SUM(l_quantity) > 250)
          |GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
          |ORDER BY totalprice_c DESC, o_orderkey
          |LIMIT 100""".stripMargin)
    }, Sql(
      """SELECT c_name, c_custkey, o_orderkey,
        |  CAST(o_orderdate AS DATE) AS odate,
        |  CAST(ROUND(o_totalprice*100) AS BIGINT) AS totalprice_c,
        |  CAST(SUM(CAST(ROUND(l_quantity*100) AS BIGINT)) AS BIGINT) AS sum_qty_c
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem
        |                     GROUP BY l_orderkey HAVING SUM(l_quantity) > 250)
        |GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
        |ORDER BY totalprice_c DESC, o_orderkey
        |LIMIT 100""".stripMargin)),

    // TPC-H Q22 shape: NOT EXISTS (anti join) + uncorrelated scalar AVG
    // subquery — "positive-balance recently-inactive customers above the average". The scalar subquery plans as a 1-row broadcast; NOT
    // EXISTS becomes a LEFT ANTI join on custkey. Completes the subquery
    // family alongside Q4 (EXISTS), Q17 (correlated scalar), Q18 (IN).
    Query("q_tpch_q22", (s, d) => {
      t(s, d, "customer").createOrReplaceTempView("graft_cust")
      t(s, d, "orders").createOrReplaceTempView("graft_ord")
      s.sql(
        """SELECT c_nationkey,
          |  COUNT(*) AS numcust,
          |  CAST(SUM(CAST(ROUND(c_acctbal*100) AS BIGINT)) AS BIGINT) AS totacctbal_c
          |FROM graft_cust
          |WHERE c_acctbal > (SELECT AVG(c_acctbal) FROM graft_cust
          |                   WHERE c_acctbal > 0.0)
          |  AND NOT EXISTS (SELECT 1 FROM graft_ord
          |                  WHERE o_custkey = c_custkey
          |                    AND o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
          |GROUP BY c_nationkey
          |ORDER BY c_nationkey""".stripMargin)
    }, Sql(
      """SELECT c_nationkey,
        |  COUNT(*) AS numcust,
        |  CAST(SUM(CAST(ROUND(c_acctbal*100) AS BIGINT)) AS BIGINT) AS totacctbal_c
        |FROM customer
        |WHERE c_acctbal > (SELECT AVG(c_acctbal) FROM customer
        |                   WHERE c_acctbal > 0.0)
        |  AND NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey
        |                    AND o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
        |GROUP BY c_nationkey
        |ORDER BY c_nationkey""".stripMargin)),

    // TPC-H Q7 shape: bilateral nation-pair trade volume per ship year.
    // Fact shuffles once on orderkey; supplier/customer/nation dims all
    // broadcast; the symmetric pair predicate evaluates after the dim
    // attach (no union of two plans).
    Query("q_tpch_q7", (s, d) => {
      val n1 = t(s, d, "nation")
        .select(col("n_nationkey").as("s_nk"), col("n_name").as("supp_nation"))
      val n2 = t(s, d, "nation")
        .select(col("n_nationkey").as("c_nk"), col("n_name").as("cust_nation"))
      val sup = t(s, d, "supplier").select(col("s_suppkey"), col("s_nationkey"))
      val cust = t(s, d, "customer").select(col("c_custkey"), col("c_nationkey"))
      val o = t(s, d, "orders").select(col("o_orderkey"), col("o_custkey"))
      t(s, d, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp"))
        .filter(col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
        .select(col("l_orderkey"), col("l_suppkey"),
          year(col("l_shipdate")).cast("long").as("l_year"),
          cents(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("vol_c"))
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
        .join(broadcast(n1), col("s_nationkey") === col("s_nk"))
        .join(broadcast(n2), col("c_nationkey") === col("c_nk"))
        .filter((col("supp_nation") === "NATION_1" && col("cust_nation") === "NATION_2") ||
          (col("supp_nation") === "NATION_2" && col("cust_nation") === "NATION_1"))
        .groupBy(col("supp_nation"), col("cust_nation"), col("l_year"))
        .agg(sum(col("vol_c")).as("revenue_c"))
        .orderBy(col("supp_nation"), col("cust_nation"), col("l_year"))
    }, Sql(
      """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |  CAST(EXTRACT(year FROM l_shipdate) AS BIGINT) AS l_year,
        |  CAST(SUM(CAST(ROUND(l_extendedprice*(1.0-l_discount)*100) AS BIGINT)) AS BIGINT) AS revenue_c
        |FROM supplier, lineitem, orders, customer, nation n1, nation n2
        |WHERE s_suppkey = l_suppkey AND o_orderkey = l_orderkey
        |  AND c_custkey = o_custkey
        |  AND s_nationkey = n1.n_nationkey AND c_nationkey = n2.n_nationkey
        |  AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
        |    OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
        |  AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
        |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin), headline = false),

    // TPC-H Q13 shape: customer distribution by order count — the LEFT
    // JOIN histogram (zero-order customers must appear in bucket 0).
    Query("q_tpch_q13", (s, d) => {
      val o = t(s, d, "orders")
        .filter(col("o_orderpriority") =!= "1-URGENT")
        .select(col("o_orderkey"), col("o_custkey"))
      t(s, d, "customer").select(col("c_custkey"))
        .join(o, col("c_custkey") === col("o_custkey"), "left_outer")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("c_count"))
        .groupBy(col("c_count"))
        .agg(count(lit(1)).as("custdist"))
        .orderBy(col("custdist").desc, col("c_count").desc)
    }, Sql(
      """SELECT c_count, COUNT(*) AS custdist FROM (
        |  SELECT c_custkey, COUNT(o_orderkey) AS c_count
        |  FROM customer LEFT JOIN orders
        |    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
        |  GROUP BY c_custkey
        |)
        |GROUP BY c_count ORDER BY custdist DESC, c_count DESC""".stripMargin), headline = false),

    // TPC-H Q8 shape: national market share — two-level conditional-
    // aggregation ratio per year over a 5-table star. Fact shuffles once
    // on orderkey for the orders attach and once on custkey for the
    // customer attach (both large at scale); part/supplier/nation/region
    // dims broadcast. Money in cents so the ratio is a quotient of exact
    // integers (deterministic under any partial-agg order).
    Query("q_tpch_q8", (s, d) => {
      val p = t(s, d, "part").filter(col("p_type") === "PROMO")
        .select(col("p_partkey"))
      val sup = t(s, d, "supplier").select(col("s_suppkey"), col("s_nationkey"))
      val n1 = t(s, d, "nation")
        .select(col("n_nationkey").as("s_nk"), col("n_name").as("supp_nation"))
      val cust = t(s, d, "customer").select(col("c_custkey"), col("c_nationkey"))
      val n2 = t(s, d, "nation")
        .select(col("n_nationkey").as("c_nk"), col("n_regionkey"))
      val r = t(s, d, "region").filter(col("r_name") === "ASIA")
        .select(col("r_regionkey"))
      val o = t(s, d, "orders")
        .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp"))
        .filter(col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
        .select(col("o_orderkey"), col("o_custkey"),
          year(col("o_orderdate")).cast("long").as("o_year"))
      t(s, d, "lineitem")
        .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
          cents(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("vol_c"))
        .join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .join(broadcast(n2), col("c_nationkey") === col("c_nk"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(n1), col("s_nationkey") === col("s_nk"))
        .groupBy(col("o_year"))
        .agg(ratio6(
          sum(when(col("supp_nation") === "NATION_3", col("vol_c")).otherwise(0L)),
          sum(col("vol_c"))).as("mkt_share"))
        .orderBy(col("o_year"))
    }, Sql(
      s"""SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
        |  ${ratio6Sql(
             "SUM(CASE WHEN n1.n_name = 'NATION_3' " +
               "THEN CAST(ROUND(l_extendedprice*(1.0-l_discount)*100) AS BIGINT) " +
               "ELSE 0 END)",
             "SUM(CAST(ROUND(l_extendedprice*(1.0-l_discount)*100) AS BIGINT))")}
        |    AS mkt_share
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey AND p_type = 'PROMO'
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation n2 ON c_nationkey = n2.n_nationkey
        |JOIN region ON n2.n_regionkey = r_regionkey AND r_name = 'ASIA'
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation n1 ON s_nationkey = n1.n_nationkey
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1998-01-01'
        |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // TPC-H Q12 shape: late-shipment counts by category with dual
    // conditional aggregation. The fixture has no l_shipmode /
    // l_commitdate / l_receiptdate, so returnflag stands in for the mode
    // and "late" = shipped >60 days after the order date — the shape
    // (fact-fact equi-join + interval predicate + two CASE counts) is
    // identical. One orderkey shuffle; no dim tables at all.
    Query("q_tpch_q12", (s, d) => {
      val o = t(s, d, "orders")
        .select(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      t(s, d, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp"))
        .filter(col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
        .select(col("l_orderkey"), col("l_returnflag"), col("l_shipdate"))
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .filter(col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"))
        .groupBy(col("l_returnflag"))
        .agg(
          sum(when(col("o_orderpriority") === "1-URGENT" ||
            col("o_orderpriority") === "2-HIGH", 1L).otherwise(0L))
            .as("high_line_count"),
          sum(when(col("o_orderpriority") =!= "1-URGENT" &&
            col("o_orderpriority") =!= "2-HIGH", 1L).otherwise(0L))
            .as("low_line_count"))
        .orderBy(col("l_returnflag"))
    }, Sql(
      """SELECT l_returnflag,
        |  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
        |    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |  CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH')
        |    THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate < TIMESTAMP '1997-01-01'
        |  AND l_shipdate > o_orderdate + INTERVAL 60 DAY
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    // TPC-H Q15 shape: top supplier by windowed revenue — an aggregate
    // VIEW consumed twice (once for the max, once for the equality
    // probe). The revenue CTE materializes one supplier-keyed aggregate;
    // the scalar MAX is a 1-row broadcast; revenue ties all surface
    // (TPC-H semantics), made deterministic by the cents revenue.
    Query("q_tpch_q15", (s, d) => {
      t(s, d, "lineitem").createOrReplaceTempView("graft_li")
      t(s, d, "supplier").createOrReplaceTempView("graft_supp")
      s.sql(
        """WITH revenue AS (
          |  SELECT l_suppkey AS supplier_no,
          |    CAST(SUM(CAST(ROUND(l_extendedprice*(1.0-l_discount)*100) AS BIGINT)) AS BIGINT)
          |      AS total_revenue_c
          |  FROM graft_li
          |  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          |    AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
          |  GROUP BY l_suppkey
          |)
          |SELECT s_suppkey, s_name, total_revenue_c
          |FROM graft_supp JOIN revenue ON s_suppkey = supplier_no
          |WHERE total_revenue_c = (SELECT MAX(total_revenue_c) FROM revenue)
          |ORDER BY s_suppkey""".stripMargin)
    }, Sql(
      """WITH revenue AS (
        |  SELECT l_suppkey AS supplier_no,
        |    CAST(SUM(CAST(ROUND(l_extendedprice*(1.0-l_discount)*100) AS BIGINT)) AS BIGINT)
        |      AS total_revenue_c
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |    AND l_shipdate < TIMESTAMP '1996-04-01'
        |  GROUP BY l_suppkey
        |)
        |SELECT s_suppkey, s_name, total_revenue_c
        |FROM supplier JOIN revenue ON s_suppkey = supplier_no
        |WHERE total_revenue_c = (SELECT MAX(total_revenue_c) FROM revenue)
        |ORDER BY s_suppkey""".stripMargin)),

    // TPC-H Q19 shape: disjunctive multi-column predicates (OR of three
    // brand/size/quantity conjunct groups) over a part equi-join — the
    // predicate-pushdown stress shape: the partkey equi-join extracts
    // cleanly; the residual OR evaluates post-join without a
    // CartesianProduct. Part filtered to the union of brands before
    // broadcast.
    Query("q_tpch_q19", (s, d) => {
      val p = t(s, d, "part")
        .filter(col("p_brand").isin("Brand#1", "Brand#2", "Brand#3"))
        .select(col("p_partkey"), col("p_brand"), col("p_size"))
      t(s, d, "lineitem")
        .select(col("l_partkey"), col("l_quantity"),
          cents(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("rev_c"))
        .join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .filter(
          (col("p_brand") === "Brand#1" && col("p_size").between(1, 15) &&
            col("l_quantity").between(1, 11)) ||
          (col("p_brand") === "Brand#2" && col("p_size").between(1, 25) &&
            col("l_quantity").between(10, 20)) ||
          (col("p_brand") === "Brand#3" && col("p_size").between(1, 40) &&
            col("l_quantity").between(20, 30)))
        .agg(sum(col("rev_c")).as("revenue_c"), count(lit(1)).as("n"))
    }, Sql(
      """SELECT
        |  CAST(SUM(CAST(ROUND(l_extendedprice*(1.0-l_discount)*100) AS BIGINT)) AS BIGINT)
        |    AS revenue_c,
        |  COUNT(*) AS n
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
        |       AND l_quantity BETWEEN 1 AND 11)
        |   OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 25
        |       AND l_quantity BETWEEN 10 AND 20)
        |   OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 40
        |       AND l_quantity BETWEEN 20 AND 30)""".stripMargin)),

    // TPC-H Q21 shape: suppliers who were the SOLE problem on multi-
    // supplier orders — the famous EXISTS + NOT EXISTS pair, planned as
    // one LEFT SEMI and one LEFT ANTI join against the same lineitem
    // relation. No l_commitdate/l_receiptdate in the fixture: returnflag
    // 'R' stands in for "late" (same decorrelation shape). Orders status
    // filter prunes before the joins.
    Query("q_tpch_q21", (s, d) => {
      t(s, d, "lineitem").createOrReplaceTempView("graft_li")
      t(s, d, "orders").createOrReplaceTempView("graft_ord")
      t(s, d, "supplier").createOrReplaceTempView("graft_supp")
      s.sql(
        """SELECT s_name, COUNT(*) AS numwait
          |FROM graft_supp
          |JOIN graft_li l1 ON s_suppkey = l1.l_suppkey
          |JOIN graft_ord ON o_orderkey = l1.l_orderkey
          |WHERE o_orderstatus = 'F'
          |  AND l1.l_returnflag = 'R'
          |  AND EXISTS (SELECT 1 FROM graft_li l2
          |              WHERE l2.l_orderkey = l1.l_orderkey
          |                AND l2.l_suppkey <> l1.l_suppkey)
          |  AND NOT EXISTS (SELECT 1 FROM graft_li l3
          |                  WHERE l3.l_orderkey = l1.l_orderkey
          |                    AND l3.l_suppkey <> l1.l_suppkey
          |                    AND l3.l_returnflag = 'R')
          |GROUP BY s_name
          |ORDER BY numwait DESC, s_name
          |LIMIT 100""".stripMargin)
    }, Sql(
      """SELECT s_name, COUNT(*) AS numwait
        |FROM supplier
        |JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
        |JOIN orders ON o_orderkey = l1.l_orderkey
        |WHERE o_orderstatus = 'F'
        |  AND l1.l_returnflag = 'R'
        |  AND EXISTS (SELECT 1 FROM lineitem l2
        |              WHERE l2.l_orderkey = l1.l_orderkey
        |                AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
        |                  WHERE l3.l_orderkey = l1.l_orderkey
        |                    AND l3.l_suppkey <> l1.l_suppkey
        |                    AND l3.l_returnflag = 'R')
        |GROUP BY s_name
        |ORDER BY numwait DESC, s_name
        |LIMIT 100""".stripMargin)),

    // Exact distinct count via BITMAP aggregates: bucket the key space,
    // build one bitmap per (group, bucket) with map-side partial merge,
    // count bits, sum per group. Unlike countDistinct (which expands
    // rows and shuffles raw keys), the shuffle carries fixed-size
    // bitmaps — the mergeable EXACT-distinct pattern that complements
    // the approximate HLL path (q_approx_distinct). Oracle is the plain
    // COUNT(DISTINCT) it must equal.
    Query("q_bitmap_distinct", (s, d) => {
      t(s, d, "lineitem")
        .select(col("l_returnflag"),
          expr("bitmap_bucket_number(l_partkey)").as("bkt"),
          expr("bitmap_bit_position(l_partkey)").as("pos"))
        .groupBy(col("l_returnflag"), col("bkt"))
        .agg(expr("bitmap_count(bitmap_construct_agg(pos))").as("c"))
        .groupBy(col("l_returnflag"))
        .agg(sum(col("c")).as("n_parts"))
        .orderBy(col("l_returnflag"))
    }, Sql(
      """SELECT l_returnflag,
        |  CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS n_parts
        |FROM lineitem GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin), headline = false),

    // Spark 3.4+ regexp surface beyond extract: count and first-match
    // substring (null-vs-empty semantics normalized to '' on both
    // engines), over a pushed-down part slice.
    Query("q_regexp_funcs", (s, d) => {
      t(s, d, "part").filter(col("p_partkey") < 200)
        .select(col("p_partkey"),
          regexp_count(col("p_name"), lit("[aeiou]")).as("n_vowels"),
          coalesce(regexp_substr(col("p_name"), lit("[a-z]{5,}")), lit(""))
            .as("first_long_word"),
          regexp_count(col("p_type"), lit("ED")).as("n_ed"))
        .orderBy(col("p_partkey"))
    }, Sql(
      """SELECT p_partkey,
        |  CAST(len(regexp_extract_all(p_name, '[aeiou]')) AS BIGINT) AS n_vowels,
        |  regexp_extract(p_name, '[a-z]{5,}') AS first_long_word,
        |  CAST(len(regexp_extract_all(p_type, 'ED')) AS BIGINT) AS n_ed
        |FROM part WHERE p_partkey < 200
        |ORDER BY p_partkey""".stripMargin), headline = false),

    // Recursive CTE (Spark 4 WITH RECURSIVE): transitive closure over the
    // same chain-pair graph as q_dedup_cc — the SQL-text twin of the
    // iterative connectedComponents operator; identical (id, comp)
    // output, so the recursive planner and the pointer-jumping DataFrame
    // loop cross-check each other through the oracle. Edges always point
    // from higher to lower id (LAG construction), so the recursion is
    // finite without cycle detection.
    Query("q_cc_recursive", (s, d) => {
      t(s, d, "orders").createOrReplaceTempView("graft_ord")
      s.sql(
        """WITH RECURSIVE ch AS (
          |  SELECT o_custkey, o_orderkey,
          |    LAG(o_orderkey) OVER (PARTITION BY o_custkey
          |                          ORDER BY o_orderkey) AS prev
          |  FROM graft_ord WHERE o_orderkey < 5000
          |), pairs AS (
          |  SELECT prev AS id_a, o_orderkey AS id_b FROM ch
          |  WHERE prev IS NOT NULL
          |), reach(id, cur) AS (
          |  SELECT id_b, id_a FROM pairs
          |  UNION ALL
          |  SELECT r.id, p.id_a FROM reach r JOIN pairs p ON r.cur = p.id_b
          |)
          |SELECT id, MIN(cur) AS comp FROM (
          |  SELECT id_a AS id, id_a AS cur FROM pairs
          |  UNION ALL SELECT id_b, id_b FROM pairs
          |  UNION ALL SELECT id, cur FROM reach
          |) GROUP BY id ORDER BY id""".stripMargin)
    }, Sql(
      """WITH RECURSIVE ch AS (
        |  SELECT o_custkey, o_orderkey,
        |    LAG(o_orderkey) OVER (PARTITION BY o_custkey
        |                          ORDER BY o_orderkey) AS prev
        |  FROM orders WHERE o_orderkey < 5000
        |), pairs AS (
        |  SELECT prev AS id_a, o_orderkey AS id_b FROM ch
        |  WHERE prev IS NOT NULL
        |), reach(id, cur) AS (
        |  SELECT id_b, id_a FROM pairs
        |  UNION ALL
        |  SELECT r.id, p.id_a FROM reach r JOIN pairs p ON r.cur = p.id_b
        |)
        |SELECT id, MIN(cur) AS comp FROM (
        |  SELECT id_a AS id, id_a AS cur FROM pairs
        |  UNION ALL SELECT id_b, id_b FROM pairs
        |  UNION ALL SELECT id, cur FROM reach
        |) GROUP BY id ORDER BY id""".stripMargin)),

    // Data-quality gate: all row-level constraints in ONE lineitem pass
    // (single aggregate, then unpivot to the long report) + the
    // orders→customer referential check as a one-pass left join. The
    // expectations report every ingest runs before a table ships.
    Query("q_dq_report", (s, d) => {
      val rowChecks = graft.operators.DataQuality.constraintReport(
        t(s, d, "lineitem"), Seq(
          "discount_range" -> (col("l_discount") >= 0.0 && col("l_discount") <= 0.1),
          "price_positive" -> (col("l_extendedprice") > 0.0),
          "quantity_range" -> (col("l_quantity") >= 1.0 && col("l_quantity") <= 60.0),
          "shipdate_not_null" -> col("l_shipdate").isNotNull,
          "tax_range" -> (col("l_tax") >= 0.0 && col("l_tax") <= 0.1)))
      val fk = graft.operators.DataQuality.referentialReport(
        t(s, d, "orders"), "o_custkey",
        t(s, d, "customer"), "c_custkey", "orders_custkey_fk")
      rowChecks.unionByName(fk).orderBy(col("check"))
    }, Sql(
      """WITH a AS (
        |  SELECT COUNT(*) AS n_rows,
        |    CAST(SUM(CASE WHEN l_discount >= 0.0 AND l_discount <= 0.1 THEN 0 ELSE 1 END) AS BIGINT) AS discount_range,
        |    CAST(SUM(CASE WHEN l_extendedprice > 0.0 THEN 0 ELSE 1 END) AS BIGINT) AS price_positive,
        |    CAST(SUM(CASE WHEN l_quantity >= 1.0 AND l_quantity <= 60.0 THEN 0 ELSE 1 END) AS BIGINT) AS quantity_range,
        |    CAST(SUM(CASE WHEN l_shipdate IS NOT NULL THEN 0 ELSE 1 END) AS BIGINT) AS shipdate_not_null,
        |    CAST(SUM(CASE WHEN l_tax >= 0.0 AND l_tax <= 0.1 THEN 0 ELSE 1 END) AS BIGINT) AS tax_range
        |  FROM lineitem
        |), fk AS (
        |  SELECT CAST(SUM(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_bad,
        |         COUNT(*) AS n_rows
        |  FROM orders o
        |  LEFT JOIN (SELECT DISTINCT c_custkey FROM customer) c
        |    ON o.o_custkey = c.c_custkey
        |)
        |SELECT * FROM (
        |  SELECT 'discount_range' AS "check", discount_range AS n_bad, n_rows FROM a
        |  UNION ALL SELECT 'price_positive', price_positive, n_rows FROM a
        |  UNION ALL SELECT 'quantity_range', quantity_range, n_rows FROM a
        |  UNION ALL SELECT 'shipdate_not_null', shipdate_not_null, n_rows FROM a
        |  UNION ALL SELECT 'tax_range', tax_range, n_rows FROM a
        |  UNION ALL SELECT 'orders_custkey_fk', n_bad, n_rows FROM fk
        |) ORDER BY "check"""".stripMargin)),

    // LATERAL correlated subquery with ORDER BY + LIMIT: top-2 orders per
    // customer, the SQL-text twin of the window top-k. Catalyst
    // decorrelates the lateral into a ranked join (DecorrelateInnerQuery
    // handles the correlated LIMIT) — no per-row subquery execution.
    Query("q_lateral_topk", (s, d) => {
      t(s, d, "customer").createOrReplaceTempView("graft_cust")
      t(s, d, "orders").createOrReplaceTempView("graft_ord")
      s.sql(
        """SELECT c.c_custkey, o.o_orderkey, o.price_c
          |FROM graft_cust c,
          |LATERAL (SELECT o_orderkey,
          |                CAST(ROUND(o_totalprice*100) AS BIGINT) AS price_c
          |         FROM graft_ord
          |         WHERE o_custkey = c.c_custkey
          |         ORDER BY price_c DESC, o_orderkey LIMIT 2) o
          |WHERE c.c_custkey < 200
          |ORDER BY c_custkey, price_c DESC, o_orderkey""".stripMargin)
    }, Sql(
      """SELECT c.c_custkey, o.o_orderkey, o.price_c
        |FROM customer c,
        |LATERAL (SELECT o_orderkey,
        |                CAST(ROUND(o_totalprice*100) AS BIGINT) AS price_c
        |         FROM orders
        |         WHERE o_custkey = c.c_custkey
        |         ORDER BY price_c DESC, o_orderkey LIMIT 2) o
        |WHERE c.c_custkey < 200
        |ORDER BY c_custkey, price_c DESC, o_orderkey""".stripMargin)),

    // Value-based RANGE window frame: trailing-7-day revenue per customer
    // (frame bounded by the ORDER-BY VALUE, not row counts — the frame
    // kind the rows-based queries don't exercise).
    Query("q_window_range_frame", (s, d) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("day_sec"))
        .rangeBetween(-7L * 86400L, 0L)
      t(s, d, "orders")
        .select(col("o_custkey"), col("o_orderkey"),
          unix_timestamp(col("o_orderdate")).as("day_sec"),
          cents(col("o_totalprice")).as("price_c"))
        .withColumn("trailing7d_c", sum(col("price_c")).over(w))
        .select(col("o_custkey"), col("o_orderkey"), col("trailing7d_c"))
        .orderBy(col("o_custkey"), col("o_orderkey"))
    }, Sql(
      """SELECT o_custkey, o_orderkey,
        |  CAST(SUM(CAST(ROUND(o_totalprice*100) AS BIGINT)) OVER (
        |    PARTITION BY o_custkey ORDER BY CAST(FLOOR(date_part('epoch', o_orderdate)) AS BIGINT)
        |    RANGE BETWEEN 604800 PRECEDING AND 0 FOLLOWING) AS BIGINT) AS trailing7d_c
        |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin)),

    // The full analytic ranking-function family over one partitioned
    // window: rank / dense_rank / ntile / percent_rank / cume_dist /
    // lag / lead / first-in-frame — all ride a SINGLE per-customer sort
    // (one window spec → one WindowExec, plan shares the exchange).
    // Percent/cume are exact rationals of integer counts → rounded 6dp
    // identically in DuckDB. Customer slice keeps the output bounded.
    Query("q_window_rank_family", (s, d) => {
      val w = Window.partitionBy(col("o_custkey")).orderBy(col("price_c"), col("o_orderkey"))
      t(s, d, "orders")
        .filter(col("o_custkey") < 50)
        .select(col("o_custkey"), col("o_orderkey"),
          cents(col("o_totalprice")).as("price_c"))
        .withColumn("rnk", rank().over(w).cast("long"))
        .withColumn("drnk", dense_rank().over(w).cast("long"))
        .withColumn("quartile", ntile(4).over(w).cast("long"))
        .withColumn("n_part",
          count(lit(1)).over(Window.partitionBy(col("o_custkey"))))
        .withColumn("pct_rank", when(col("n_part") === 1, lit(0.0))
          .otherwise(ratio6(rank().over(w) - 1, col("n_part") - 1)))
        .withColumn("cume", ratio6(count(lit(1)).over(w), col("n_part")))
        .drop("n_part")
        .withColumn("prev_price_c", lag(col("price_c"), 1).over(w))
        .withColumn("next_price_c", lead(col("price_c"), 1).over(w))
        .withColumn("min_price_c", first(col("price_c")).over(w))
        .orderBy(col("o_custkey"), col("rnk"), col("o_orderkey"))
    }, Sql(
      s"""WITH o AS (
        |  SELECT o_custkey, o_orderkey,
        |    CAST(ROUND(o_totalprice*100) AS BIGINT) AS price_c
        |  FROM orders WHERE o_custkey < 50
        |)
        |SELECT o_custkey, o_orderkey, price_c,
        |  CAST(RANK() OVER w AS BIGINT) AS rnk,
        |  CAST(DENSE_RANK() OVER w AS BIGINT) AS drnk,
        |  CAST(NTILE(4) OVER w AS BIGINT) AS quartile,
        |  CASE WHEN COUNT(*) OVER wp = 1 THEN 0.0
        |       ELSE ${ratio6Sql("RANK() OVER w - 1", "COUNT(*) OVER wp - 1")}
        |  END AS pct_rank,
        |  ${ratio6Sql("COUNT(*) OVER w", "COUNT(*) OVER wp")} AS cume,
        |  LAG(price_c, 1) OVER w AS prev_price_c,
        |  LEAD(price_c, 1) OVER w AS next_price_c,
        |  FIRST_VALUE(price_c) OVER w AS min_price_c
        |FROM o
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY price_c, o_orderkey),
        |  wp AS (PARTITION BY o_custkey)
        |ORDER BY o_custkey, rnk, o_orderkey""".stripMargin), headline = false),

    // Vocabulary coverage (Zipf head): top-20 corpus terms with running
    // cumulative share of ALL token occurrences — the "how much does a
    // small vocab cover" statistic every tokenizer design starts from.
    // Shape: one (term) aggregate; TakeOrdered bounds to 20 rows BEFORE
    // the running-sum window (single-partition window over 20 rows, the
    // bounded-then-rank pattern); total attaches as a 1-row broadcast.
    Query("q_vocab_coverage", (s, d) => {
      val tf = Tables.documents(s, d)
        .select(explode(graft.operators.Dedup.tokens(col("text"))).as("term"))
        .groupBy(col("term")).agg(count(lit(1)).as("c"))
      val total = tf.agg(sum(col("c")).as("n"))
      val top = tf.orderBy(col("c").desc, col("term")).limit(20)
      val w = Window.orderBy(col("c").desc, col("term"))
      top.withColumn("rank", row_number().over(w).cast("long"))
        .withColumn("cum_c", sum(col("c")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .crossJoin(broadcast(total))
        .select(col("rank"), col("term"), col("c"),
          ratio6(col("cum_c"), col("n")).as("cum_share"))
        .orderBy(col("rank"))
    }, Sql(
      s"""WITH tok AS (
        |  SELECT unnest($duckDocToks) AS term FROM documents
        |), tf AS (SELECT term, COUNT(*) AS c FROM tok GROUP BY term),
        |tot AS (SELECT SUM(c) AS n FROM tf),
        |top AS (
        |  SELECT term, c,
        |    CAST(ROW_NUMBER() OVER (ORDER BY c DESC, term) AS BIGINT) AS rank
        |  FROM tf QUALIFY rank <= 20
        |)
        |SELECT rank, term, c,
        |  ${ratio6Sql(
             "SUM(c) OVER (ORDER BY rank ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)",
             "n")} AS cum_share
        |FROM top, tot ORDER BY rank""".stripMargin), headline = false),

    // Heavy hitters via the datasketches frequent-items aggregate
    // (approx_top_k): the mergeable one-pass top-k every vocab/label
    // truncation decision runs at scale. Here maxItemsTracked (10k) far
    // exceeds the corpus vocabulary, so the sketch is in its EXACT
    // regime and the counts equal a plain aggregate — which is what the
    // DuckDB oracle checks; at 100 TB you shrink the budget and accept
    // approximation on the tail, never the head. The sketch's internal
    // tie order is unspecified, so the query explodes the result and
    // re-ranks deterministically (count desc, term) before the top-10
    // cut.
    Query("q_approx_top_k", (s, d) => {
      val w = Window.orderBy(col("cnt").desc, col("term"))
      Tables.documents(s, d)
        .select(explode(graft.operators.Dedup.tokens(col("text"))).as("term"))
        .agg(expr("approx_top_k(term, 100, 10000)").as("tk"))
        .select(explode(col("tk")).as("e"))
        .select(col("e.item").as("term"), col("e.count").as("cnt"))
        .orderBy(col("cnt").desc, col("term")).limit(10)
        .withColumn("rank", row_number().over(w).cast("long"))
        .select(col("rank"), col("term"), col("cnt"))
        .orderBy(col("rank"))
    }, Sql(
      s"""WITH tok AS (
        |  SELECT unnest($duckDocToks) AS term FROM documents
        |), tf AS (SELECT term, COUNT(*) AS cnt FROM tok GROUP BY term),
        |top AS (
        |  SELECT term, cnt,
        |    CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, term) AS BIGINT) AS rank
        |  FROM tf QUALIFY rank <= 10
        |)
        |SELECT rank, term, cnt FROM top ORDER BY rank""".stripMargin), headline = false),

    // Theta-sketch SET ALGEBRA over distinct keys: per-flag sketches in
    // one grouped pass, then union / intersection / difference
    // ESTIMATES — the mergeable form of COUNT(DISTINCT) set arithmetic
    // (HLL can union but never intersect; theta can). lgNomEntries=16
    // (65536) exceeds the key NDV at every test scale, so the sketches
    // are exact and DuckDB's literal set operations are the oracle; at
    // real scale the same query degrades gracefully to ±1.6% estimates.
    // Theta retention keeps the k SMALLEST key hashes — a function of
    // the SET, not partitioning — so exact-regime results are
    // deterministic across any parallelism.
    Query("q_theta_sets", (s, d) => {
      val sk = t(s, d, "lineitem")
        .filter(col("l_returnflag").isin("A", "R"))
        .groupBy(col("l_returnflag"))
        .agg(expr("theta_sketch_agg(l_partkey, 16)").as("sk"))
      val a = sk.filter(col("l_returnflag") === "A").select(col("sk").as("ska"))
      val r = sk.filter(col("l_returnflag") === "R").select(col("sk").as("skr"))
      a.crossJoin(r).select(
        expr("theta_sketch_estimate(ska)").cast("long").as("n_a"),
        expr("theta_sketch_estimate(skr)").cast("long").as("n_r"),
        // theta_union has its OWN nominal size (default lgk=12 → 4096 →
        // estimation mode even over exact inputs — bit us at sf0.1);
        // size it like the input sketches
        expr("theta_sketch_estimate(theta_union(ska, skr, 16))").cast("long").as("n_union"),
        expr("theta_sketch_estimate(theta_intersection(ska, skr))").cast("long").as("n_inter"),
        expr("theta_sketch_estimate(theta_difference(ska, skr))").cast("long").as("n_diff"))
    }, Sql(
      """WITH a AS (SELECT DISTINCT l_partkey FROM lineitem WHERE l_returnflag = 'A'),
        |r AS (SELECT DISTINCT l_partkey FROM lineitem WHERE l_returnflag = 'R')
        |SELECT
        |  (SELECT COUNT(*) FROM a) AS n_a,
        |  (SELECT COUNT(*) FROM r) AS n_r,
        |  (SELECT COUNT(*) FROM (SELECT * FROM a UNION SELECT * FROM r)) AS n_union,
        |  (SELECT COUNT(*) FROM (SELECT * FROM a INTERSECT SELECT * FROM r)) AS n_inter,
        |  (SELECT COUNT(*) FROM (SELECT * FROM a EXCEPT SELECT * FROM r)) AS n_diff""".stripMargin),
      headline = false),

    // Non-equi RANGE join: price-band bucketing via a broadcast
    // nested-loop join against a 4-row literal band table — the band side
    // is always broadcast; the fact side never shuffles.
    Query("q_range_join", (s, d) => {
      val spark = s
      import spark.implicits._
      val bands = Seq(
        (1L, 900.0, 925.0), (2L, 925.0, 950.0),
        (3L, 950.0, 975.0), (4L, 975.0, 1000.0))
        .toDF("band_id", "lo", "hi")
      t(s, d, "part")
        .join(broadcast(bands),
          col("p_retailprice") >= col("lo") && col("p_retailprice") < col("hi"))
        .groupBy(col("band_id"))
        .agg(count(lit(1)).as("n_parts"),
          // NOT round(avg(int)): exact-int sum / exact count via ratio6 —
          // the terminating-ratio ROUND(DOUBLE) seam (ExactRatio scaladoc)
          ratio6(sum(col("p_size")), count(lit(1))).as("avg_size"))
        .orderBy(col("band_id"))
    }, Sql(
      s"""WITH bands(band_id, lo, hi) AS (
        |  VALUES (1, 900.0, 925.0), (2, 925.0, 950.0),
        |         (3, 950.0, 975.0), (4, 975.0, 1000.0))
        |SELECT CAST(band_id AS BIGINT) AS band_id, COUNT(*) AS n_parts,
        |  ${ratio6Sql("SUM(p_size)", "COUNT(*)")} AS avg_size
        |FROM part JOIN bands ON p_retailprice >= lo AND p_retailprice < hi
        |GROUP BY band_id ORDER BY band_id""".stripMargin)),

    // Unpivot (wide → long): per-flag metric columns melted to
    // (flag, metric, value) rows.
    Query("q_unpivot", (s, d) => {
      t(s, d, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(sum(cents(col("l_quantity"))).as("qty_c"),
          sum(cents(col("l_extendedprice"))).as("price_c"))
        .unpivot(Array(col("l_returnflag")),
          Array(col("qty_c"), col("price_c")), "metric", "v")
        .orderBy(col("l_returnflag"), col("metric"))
    }, Sql(
      """WITH wide AS (
        |  SELECT l_returnflag,
        |    CAST(SUM(CAST(ROUND(l_quantity*100) AS BIGINT)) AS BIGINT) AS qty_c,
        |    CAST(SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT)) AS BIGINT) AS price_c
        |  FROM lineitem GROUP BY l_returnflag)
        |SELECT l_returnflag, metric, v
        |FROM wide UNPIVOT (v FOR metric IN (qty_c, price_c))
        |ORDER BY l_returnflag, metric""".stripMargin), headline = false),

    // PIVOT (long → wide, the unpivot's inverse): per-returnflag revenue
    // cents pivoted on the CLOSED linestatus domain {F, O} — explicit
    // value list, so the output schema is static and the relational
    // rewrite (one conditional aggregation) is exactly what the oracle
    // writes by hand. One shuffle, exact integers.
    Query("q_pivot", (s, d) => {
      t(s, d, "lineitem")
        .select(col("l_returnflag"), col("l_linestatus"),
          cents(col("l_extendedprice")).as("price_c"))
        .groupBy(col("l_returnflag"))
        .pivot("l_linestatus", Seq("F", "O"))
        .agg(sum(col("price_c")))
        .select(col("l_returnflag"),
          coalesce(col("F"), lit(0L)).as("f_price_c"),
          coalesce(col("O"), lit(0L)).as("o_price_c"))
        .orderBy(col("l_returnflag"))
    }, Sql(
      // the pivot's relational rewrite, written by hand
      """SELECT l_returnflag,
        |  CAST(COALESCE(SUM(CASE WHEN l_linestatus = 'F'
        |    THEN CAST(ROUND(l_extendedprice*100) AS BIGINT) END), 0)
        |    AS BIGINT) AS f_price_c,
        |  CAST(COALESCE(SUM(CASE WHEN l_linestatus = 'O'
        |    THEN CAST(ROUND(l_extendedprice*100) AS BIGINT) END), 0)
        |    AS BIGINT) AS o_price_c
        |FROM lineitem GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin)),

    // Calendar gap-fill (the time-series spine every dashboard needs
    // before charting a daily metric): the full [min_day, max_day]
    // spine via sequence() (domain-bounded — |days| rows, never a
    // per-event explode), left join of the daily counts, zeros filled,
    // missing days flagged. Exact integers throughout.
    Query("q_gap_fill", (s, d) => {
      val daily = Tables.events(s, d)
        .groupBy(floor(unix_timestamp(col("ts")) / 86400).cast("long")
          .as("day"))
        .agg(count(lit(1)).as("n"))
      val bounds = daily.agg(min(col("day")).as("lo"), max(col("day")).as("hi"))
      val spine = bounds
        .select(explode(sequence(col("lo"), col("hi"))).as("day"))
      spine.join(daily, Seq("day"), "left")
        .select(col("day"), coalesce(col("n"), lit(0L)).as("n"),
          col("n").isNull.as("is_gap"))
        .orderBy(col("day"))
    }, Sql(
      // generate_series spine over the bounded day domain; zeros filled
      """WITH daily AS (
        |  SELECT (epoch_us(ts) // 1000000) // 86400 AS day, COUNT(*) AS n
        |  FROM events GROUP BY 1),
        |b AS (SELECT MIN(day) AS lo, MAX(day) AS hi FROM daily),
        |spine AS (SELECT UNNEST(generate_series(lo, hi)) AS day FROM b)
        |SELECT s.day, COALESCE(d.n, 0) AS n, d.n IS NULL AS is_gap
        |FROM spine s LEFT JOIN daily d USING (day)
        |ORDER BY s.day""".stripMargin)),

    // SQL-text entry point + GROUPING SETS (neither ROLLUP nor CUBE):
    // exercises spark.sql over a registered view — the engine's parser
    // surface.
    Query("q_grouping_sets", (s, d) => {
      t(s, d, "lineitem").createOrReplaceTempView("graft_li")
      s.sql(
        """SELECT COALESCE(l_returnflag, 'ALL') AS rf,
          |       COALESCE(l_linestatus, 'ALL') AS ls,
          |       COUNT(*) AS n,
          |       CAST(SUM(CAST(ROUND(l_quantity*100, 0) AS BIGINT)) AS BIGINT) AS qty_c
          |FROM graft_li
          |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
          |ORDER BY rf, ls""".stripMargin)
    }, Sql(
      """SELECT COALESCE(l_returnflag, 'ALL') AS rf,
        |       COALESCE(l_linestatus, 'ALL') AS ls,
        |       COUNT(*) AS n,
        |       CAST(SUM(CAST(ROUND(l_quantity*100) AS BIGINT)) AS BIGINT) AS qty_c
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        |ORDER BY rf, ls""".stripMargin), headline = false),

    // Typed Dataset surface (SURVEY §1.5): case-class Encoder +
    // groupByKey/mapGroups. Kept for API parity — the per-group closure
    // exits codegen, so the column form (q1_agg etc.) is the perf path;
    // rounding happens in DataFrame-land so both engines share one rule.
    Query("q_typed_agg", (s, d) => {
      val spark = s
      import spark.implicits._
      Tables.ratingsDs(s, d)
        .groupByKey(_.userId)
        .mapGroups { (uid, rows) =>
          var n = 0L; var sum = 0.0
          rows.foreach { r => n += 1; sum += r.rating }
          (uid, n, sum)
        }
        .toDF("userId", "n", "sum_rating")
        // ratings sit on a .5 grid, so sum_rating·2 is an exact integer-
        // valued double at any n — ratio6 makes the mean's 6-dp rounding
        // exact instead of ROUND(DOUBLE) (ExactRatio scaladoc)
        .select(col("userId"), col("n"),
          ratio6((col("sum_rating") * 2).cast("decimal(38,0)"), col("n") * 2)
            .as("avg_rating"))
        .orderBy(col("userId"))
    }, Sql(
      s"""WITH ${Tables.ratingsSql}
         |SELECT userId, COUNT(*) AS n,
         |  ${ratio6Sql("CAST(SUM(rating)*2 AS HUGEINT)", "COUNT(*)*2")} AS avg_rating
         |FROM ratings GROUP BY userId ORDER BY userId""".stripMargin), headline = false),

    // Null-safety surface: nulls manufactured with nullif, then repaired/
    // filtered with na.fill, na.drop, coalesce, nvl2, and ANSI-safe try_*
    // arithmetic (division by zero → NULL, not an exception).
    Query("q_null_safety", (s, d) => {
      val base = t(s, d, "orders")
        .withColumn("p0", nullif(col("o_totalprice"), col("o_totalprice"))) // always null
        .withColumn("st_n", nullif(col("o_orderstatus"), lit("O")))
      val filled = base.na.fill(Map("p0" -> -1.0, "st_n" -> "OPEN"))
      filled
        .withColumn("ratio", try_divide(col("o_totalprice"),
          col("o_totalprice") - col("o_totalprice"))) // x/0 → NULL
        .withColumn("tag", nvl2(nullif(col("o_orderstatus"), lit("F")),
          lit("not_f"), lit("was_f")))
        .groupBy(col("st_n"), col("tag"))
        .agg(count(lit(1)).as("n"),
          count(col("ratio")).as("n_ratio_nonnull"),
          round(min(col("p0")), 6).as("filled_min"))
        .orderBy(col("st_n"), col("tag"))
    }, Sql(
      """WITH t AS (
        |  SELECT CASE WHEN o_orderstatus = 'O' THEN 'OPEN'
        |              ELSE o_orderstatus END AS st_n,
        |         CASE WHEN o_orderstatus = 'F' THEN 'was_f'
        |              ELSE 'not_f' END AS tag
        |  FROM orders)
        |SELECT st_n, tag, COUNT(*) AS n,
        |  CAST(0 AS BIGINT) AS n_ratio_nonnull,
        |  CAST(-1.0 AS DOUBLE) AS filled_min
        |FROM t GROUP BY st_n, tag ORDER BY st_n, tag""".stripMargin), headline = false),

    // Array higher-order predicates + construction surface: exists,
    // forall, array_compact, array_append/prepend, array_repeat —
    // emitted as scalars/joined strings.
    Query("q_array_hof", (s, d) => {
      val words = split(col("p_name"), " ")
      t(s, d, "part").filter(col("p_partkey") < 200)
        .select(
          col("p_partkey"),
          exists(words, w => length(w) > 4).as("has_long_word"),
          forall(words, w => length(w) > 2).as("all_gt2"),
          size(array_compact(array(col("p_brand"), lit(null), col("p_type"))))
            .cast("long").as("n_compact"),
          concat_ws(",", array_append(words, lit("END"))).as("appended"),
          concat_ws(",", array_prepend(words, lit("BEGIN"))).as("prepended"),
          concat_ws(",", array_repeat(col("p_brand"), 2)).as("repeated"))
        .orderBy(col("p_partkey"))
    }, Sql(
      """SELECT p_partkey,
        |  len(list_filter(string_split(p_name, ' '), x -> len(x) > 4)) > 0 AS has_long_word,
        |  len(list_filter(string_split(p_name, ' '), x -> len(x) > 2))
        |    = len(string_split(p_name, ' ')) AS all_gt2,
        |  CAST(len(list_filter([p_brand, NULL, p_type], x -> x IS NOT NULL)) AS BIGINT)
        |    AS n_compact,
        |  array_to_string(list_append(string_split(p_name, ' '), 'END'), ',') AS appended,
        |  array_to_string(list_prepend('BEGIN', string_split(p_name, ' ')), ',') AS prepended,
        |  p_brand || ',' || p_brand AS repeated
        |FROM part WHERE p_partkey < 200 ORDER BY p_partkey""".stripMargin), headline = false),

    // df.stat.crosstab: contingency table with an explicit stable column
    // projection (crosstab column order is value-dependent).
    Query("q_crosstab", (s, d) => {
      val aliases = Seq("1-URGENT" -> "n_urgent", "2-HIGH" -> "n_high",
        "3-MEDIUM" -> "n_medium", "4-NOT SPECIFIED" -> "n_notspec",
        "5-LOW" -> "n_low")
      val ct = t(s, d, "orders").stat.crosstab("o_orderstatus", "o_orderpriority")
      aliases.foldLeft(ct) { case (df, (p, a)) =>
        df.withColumn(a, coalesce(col(s"`$p`").cast("long"), lit(0L)))
      }
        .select(col("o_orderstatus_o_orderpriority").as("status") +:
          aliases.map { case (_, a) => col(a) }: _*)
        .orderBy(col("status"))
    }, Sql(
      """SELECT o_orderstatus AS status,
        |  COUNT(*) FILTER (WHERE o_orderpriority = '1-URGENT') AS n_urgent,
        |  COUNT(*) FILTER (WHERE o_orderpriority = '2-HIGH') AS n_high,
        |  COUNT(*) FILTER (WHERE o_orderpriority = '3-MEDIUM') AS n_medium,
        |  COUNT(*) FILTER (WHERE o_orderpriority = '4-NOT SPECIFIED') AS n_notspec,
        |  COUNT(*) FILTER (WHERE o_orderpriority = '5-LOW') AS n_low
        |FROM orders GROUP BY o_orderstatus ORDER BY status""".stripMargin), headline = false),

    // Two-phase salted aggregation (explicit skew mitigation — the form
    // for hot group keys AQE can't split because it's an aggregate, not a
    // join). Result provably identical to the direct groupBy.
    Query("q_salted_agg", (s, d) => {
      graft.operators.Skew.saltedSumCount(Tables.ratings(s, d),
        "movieId", "rating", spread = Seq("userId", "ts"), buckets = 16)
        .select(col("movieId"),
          round(col("sum_rating"), 6).as("sum_rating_r"), col("n"))
        .orderBy(col("movieId"))
    }, Sql(
      s"""WITH ${Tables.ratingsSql}
         |SELECT movieId, ROUND(SUM(rating), 6) AS sum_rating_r,
         |  COUNT(*) AS n
         |FROM ratings GROUP BY movieId ORDER BY movieId""".stripMargin), headline = false),

    // Mergeable DataSketches HLL (the 100 TB count-distinct path: partial
    // sketches union across partitions/days). Sketch-specific → rows-only;
    // tolerance vs exact asserted in scalatest.
    Query("q_hll_sketch", (s, d) => {
      t(s, d, "lineitem").agg(
        hll_sketch_estimate(hll_sketch_agg(col("l_partkey"))).as("est_parts"),
        hll_sketch_estimate(hll_sketch_agg(col("l_suppkey"))).as("est_supps"))
    }, Exempt(
      "HLL sketch bytes are engine-specific; merge/estimate invariants in scalatest"),
      headline = false),

    // PageRank (5 fixed power-iteration rounds, damping 0.85) over the
    // symmetric customer↔supplier trade graph mined from orders⋈lineitem.
    // Each round is one |edges|-shuffle + one map-side-combined groupBy —
    // the canonical iterative-analytics workload (Graph.pageRank). The
    // oracle is the SAME recurrence unrolled into 5 generated SQL CTEs,
    // so the iteration math is witnessed end-to-end; final ranks rounded
    // 6dp (double-sum addition-order seam, SCALING.md contract).
    Query("q_pagerank", (s, d) => pagerankFull(s, d, localThreshold = 2000000L),
      Sql(pagerankOracle)),

    // Personalized PageRank: teleport mass pinned to the BUILDING-segment
    // customers — rank concentrates in their trading neighborhood, so the
    // supplier ordering answers "which suppliers serve this segment's
    // orbit" (the graph-based related-entities recommender). Same
    // generated-CTE oracle as q_pagerank with a seed-normalized teleport
    // CTE swapped in; supplier nodes only in the output.
    Query("q_ppr_suppliers", (s, d) => {
      val seeds = t(s, d, "customer")
        .filter(col("c_mktsegment") === "BUILDING")
        .select((col("c_custkey") * 2L).as("node")).distinct()
        .withColumn("w", lit(1.0))
      graft.operators.Graph.personalizedPageRank(tradeEdges(s, d), seeds)
        .filter(col("node") % 2 === 1) // suppliers ride the odd ids
        .select(tradeNodeLabel(col("node")).as("node"),
          round(col("rank"), 6).as("rank_r"))
        .orderBy(col("node"))
    }, Sql(pprOracle)),

    // Exact triangle census + global clustering coefficient of the
    // parts-co-ordered-together graph (edge {p1, p2} iff ≥2 distinct
    // orders contain both parts) — the graph-cohesion statistic behind
    // community detection and recommender-graph health checks.
    // Graph.triangleStats runs the degree-ORIENTED wedge join, so the
    // per-key fan-out is O(√m) regardless of hub degree (the naive
    // shared-neighbor join is quadratic in the hottest degree). Edge
    // mining applies the item-CF min-support discipline (q_item_rules):
    // a pair co-ordered ONCE is coincidence, not affinity, and keeping
    // those noise edges makes the co-occurrence graph dense in the
    // FIXTURE's random-draw regime (1.2M support-1 edges vs 3.6k
    // support-2 at sf0.1 — wedge work 72M vs thousands; measured
    // 6.3 s → sub-second). Per-order baskets are capped at their first
    // 20 parts (ROW_NUMBER by partkey, mirrored in the oracle — the
    // blockedPairs discipline; TPC-H orders carry ≤7 lines so the cap
    // never binds here, but an unbounded basket would otherwise expand
    // quadratically). The one double (gcc = 3·tri/wedges) is a single
    // IEEE multiply+divide over exact integers on both engines, 6dp.
    Query("q_triangles", (s, d) => {
      graft.operators.Graph.triangleStats(coPurchaseEdges(s, d))
        .select(col("n_nodes"), col("n_edges"), col("n_wedges"),
          col("n_triangles"), round(col("gcc"), 6).as("gcc_r"))
    }, Sql(
      // Value-identical unoriented 3-way join over the same canonical
      // (u < v) edge set — with a < b < c each triangle matches the join
      // pattern (a,b)(b,c)(a,c) exactly once. The engine's orientation
      // changes the plan's fan-out, never the census (the salted-join
      // convention: the oracle witnesses the relation, not the layout).
      s"""WITH $coPurchaseCte,
        |deg AS (
        |  SELECT node, COUNT(*) AS dg FROM (
        |    SELECT u AS node FROM edges UNION ALL SELECT v AS node FROM edges)
        |  GROUP BY 1),
        |base AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes,
        |         CAST(COALESCE(SUM(dg * (dg - 1) // 2), 0) AS BIGINT) AS n_wedges
        |  FROM deg),
        |en AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_edges FROM edges),
        |tri AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles
        |  FROM edges e1 JOIN edges e2 ON e1.v = e2.u
        |       JOIN edges e3 ON e3.u = e1.u AND e3.v = e2.v)
        |SELECT n_nodes, n_edges, n_wedges, n_triangles,
        |  ROUND(CASE WHEN n_wedges > 0
        |             THEN 3.0 * n_triangles / n_wedges ELSE 0 END, 6) AS gcc_r
        |FROM base, en, tri""".stripMargin)),

    // k-core decomposition (fixed-round synchronous peel, k=3 over the
    // q_triangles co-purchase graph — ONE edge definition shared via
    // coPurchaseEdges so the two graph censuses can never drift): each
    // round drops every node below degree 3 in the SURVIVING subgraph
    // and reports the peel curve (round, n_nodes, n_edges) — the
    // community-density census next to the triangle census. Exact
    // integer counts (the zero-float-seam family with q_sssp), so the
    // unrolled 6-round CTE oracle matches bit-for-bit; Graph.kcorePeel
    // owns the scale shape (per-round degree aggregate + two ids-only
    // hash semi-joins, per-round checkpoint, Guarded.iterate fast path
    // under the measured-edge guard, constant-tail fast exit once the
    // peel empties).
    Query("q_kcore", (s, d) =>
      graft.operators.Graph.kcorePeel(coPurchaseEdges(s, d), k = 3,
        rounds = 6, localThreshold = 2000000L),
      Sql(kcoreOracle)),

    // Blocked fuzzy matching (the entity-resolution pattern): candidate
    // pairs come from a BLOCK KEY (the name's last token), never an
    // all-pairs cross product, and the in-block expansion is CAPPED —
    // Dedup.blockedPairs applies the bucketPairs maxBucket discipline
    // (first 1000 members per block fully pairwise, overflow members
    // star-attached to the block min). The cap matters precisely here
    // because this block key has FIXED cardinality (TPC-H p_name draws
    // its five words from 92 colors), so uncapped blocks grow linearly
    // with the data and in-block pairing quadratically — the cap bounds
    // per-block work at O(cap²) at any scale, and the oracle mirrors
    // the capped semantics with ROW_NUMBER. At the verified scales
    // every block is under the cap, so the result is pure-pairwise;
    // the planted hot-block bound is asserted in ScalePostureSpec.
    // The expensive edit distance runs only on blocked candidates;
    // levenshtein is the standard DP distance on both engines — exact
    // integer, no float seam.
    Query("q_fuzzy_parts", (s, d) => {
      blockedPartPairs(s, d)
        .select(col("block"), col("a"), col("b"),
          levenshtein(col("a"), col("b")).cast("long").as("dist"))
        .filter(col("dist") <= 2)
        .orderBy(col("a"), col("b"))
    }, Sql(
      // mirrors Dedup.blockedPairs' CAP: rn ≤ 1000 members pair fully,
      // overflow members pair once against the block min (rn = 1)
      s"""WITH $partBlockCtes, $cappedNameCandCte
        |SELECT block, a, b, CAST(levenshtein(a, b) AS BIGINT) AS dist
        |FROM cand
        |WHERE levenshtein(a, b) <= 2
        |ORDER BY a, b""".stripMargin)),

    // The edit-distance-free fuzzy-matching twin: same capped blocked
    // candidate generation, scored by the codegen'd Jaro-Winkler
    // expression (TextHashFunctions.JaroWinkler — the standard variant
    // DuckDB implements, so the SCORES value-oracle cross-engine, not
    // just the survivor set). JW is the entity-resolution scorer of
    // choice for short name strings (prefix-weighted, transposition-
    // tolerant, no DP table); the threshold compares the 6dp-ROUNDED
    // score on both engines so a last-ulp wobble cannot flip a row's
    // membership.
    Query("q_fuzzy_jw", (s, d) => {
      jwMatches(s, d)
        .select(col("block"), col("a"), col("b"), col("jw_r"))
        .orderBy(col("a"), col("b"))
    }, Sql(
      // same capped blocked-candidate CTE; DuckDB's
      // jaro_winkler_similarity is the same standard variant as the
      // engine's codegen'd expression, so the 6dp-rounded SCORE is the
      // compared value (threshold on the rounded score on both sides)
      s"""WITH $partBlockCtes, $cappedNameCandCte, scored AS (
        |  SELECT block, a, b,
        |    ROUND(jaro_winkler_similarity(a, b), 6) AS jw_r
        |  FROM cand
        |)
        |SELECT block, a, b, jw_r FROM scored
        |WHERE jw_r >= 0.9
        |ORDER BY a, b""".stripMargin)),

    // Z-order layout clustering: Morton-interleave (l_partkey, l_suppkey)
    // mod 1024 into one sort key and report each of the 64 coarse
    // z-ranges' (x, y) bounding box — the per-file min/max stats a
    // z-clustered write (Layout.zorderWrite) would give parquet pruning
    // on EITHER dimension. Pure codegen'd bit arithmetic; the oracle's
    // interleave expression is GENERATED from the same spec
    // (Layout.zvalueSql), so the bit layout can't drift between engines.
    Query("q_zorder_cluster", (s, d) => {
      val li = t(s, d, "lineitem").select(
        pmod(col("l_partkey"), lit(1024L)).cast("long").as("x"),
        pmod(col("l_suppkey"), lit(1024L)).cast("long").as("y"))
      li.withColumn("zbucket",
          shiftright(graft.operators.Layout.zvalue(col("x"), col("y"), 10), 14)
            .cast("long"))
        .groupBy(col("zbucket"))
        .agg(count(lit(1)).as("n"),
          min(col("x")).as("x_min"), max(col("x")).as("x_max"),
          min(col("y")).as("y_min"), max(col("y")).as("y_max"))
        .orderBy(col("zbucket"))
    }, Sql(
      s"""WITH b AS (
         |  SELECT l_partkey % 1024 AS x, l_suppkey % 1024 AS y FROM lineitem
         |), z AS (
         |  SELECT x, y, ${graft.operators.Layout.zvalueSql("x", "y", 10)} AS zv FROM b
         |)
         |SELECT CAST(zv >> 14 AS BIGINT) AS zbucket, COUNT(*) AS n,
         |  MIN(x) AS x_min, MAX(x) AS x_max, MIN(y) AS y_min, MAX(y) AS y_max
         |FROM z GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ANALYZE-style per-column table statistics (the CBO stats-collection
    // pass every warehouse runs): rows / nulls / exact NDV / min / max
    // for the FK and measure columns of lineitem, computed in ONE scan —
    // a single aggregate carries all 7 columns' stats (Catalyst expands
    // the multi-distinct into one Expand + two-stage aggregate, still
    // one pass over the fact table; the per-column-query form the
    // oracle uses scans 7×, which is exactly what a stats pass must NOT
    // do at 100 TB), then unpivots driver-free via a 7-struct explode
    // of the one-row result. Exact NDV is computed ONLY for the
    // bounded-cardinality columns CBO equality-selectivity keys on —
    // near-unique columns (the PK, and l_extendedprice whose prices
    // are ~distinct per row) are exactly what approx_count_distinct
    // exists for (the q_approx_distinct primitive): their exact
    // partial-distinct state rides the shuffle un-collapsed and
    // dominated the whole line (measured ~3× the rest combined), so
    // the price row reports NULL NDV while keeping its min/max (range
    // selectivity needs those, and they cost one comparison per row).
    // Mins/maxes cast to double (exact for BIGINT keys and parquet
    // doubles — no float seam).
    Query("q_table_stats", (s, d) => {
      val ndvCols = Seq("l_linenumber", "l_partkey", "l_suppkey",
        "l_quantity", "l_discount", "l_tax")
      val cols = ndvCols :+ "l_extendedprice"
      val aggs = count(lit(1)).as("n_rows") +: (cols.flatMap { c => Seq(
        sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"${c}__nn"),
        min(col(c).cast("double")).as(s"${c}__mn"),
        max(col(c).cast("double")).as(s"${c}__mx")) } ++
        ndvCols.map(c => countDistinct(col(c)).as(s"${c}__nd")))
      val one = t(s, d, "lineitem").agg(aggs.head, aggs.tail: _*)
      one.select(col("n_rows"), explode(array(cols.map { c =>
          struct(lit(c).as("col_name"),
            col(s"${c}__nn").as("n_null"),
            (if (ndvCols.contains(c)) col(s"${c}__nd")
             else lit(null).cast("long")).as("n_distinct"),
            col(s"${c}__mn").as("min_v"), col(s"${c}__mx").as("max_v"))
        }: _*)).as("st"))
        .select(col("st.col_name").as("col_name"), col("n_rows"),
          col("st.n_null").as("n_null"), col("st.n_distinct").as("n_distinct"),
          col("st.min_v").as("min_v"), col("st.max_v").as("max_v"))
        .orderBy(col("col_name"))
    }, Sql(
      // generated per-column UNION ALL — the oracle may scan 7×; the
      // engine side must not (see the query comment). NULL NDV for the
      // near-unique price column mirrors the engine's bounded-NDV policy.
      (Seq("l_linenumber", "l_partkey", "l_suppkey",
        "l_quantity", "l_discount", "l_tax", "l_extendedprice")
      .map { c =>
        val nd = if (c == "l_extendedprice") "CAST(NULL AS BIGINT)"
                 else s"COUNT(DISTINCT $c)"
        s"""SELECT '$c' AS col_name, COUNT(*) AS n_rows,
           |  COUNT(*) - COUNT($c) AS n_null,
           |  $nd AS n_distinct,
           |  CAST(MIN($c) AS DOUBLE) AS min_v,
           |  CAST(MAX($c) AS DOUBLE) AS max_v
           |FROM lineitem""".stripMargin }
      .mkString("", "\nUNION ALL\n", "\nORDER BY col_name")))),

    // Equi-width column histogram — the other half of the ANALYZE stats
    // pass (q_table_stats): 16 bins over [min, max] of l_extendedprice,
    // the selectivity histogram a CBO range predicate consults. Two
    // passes by necessity (bounds before binning), but the bounds are a
    // 1-row broadcast scalar attach — the corpus is scanned twice and
    // shuffled once (16-row aggregate). Bin math is pure IEEE double
    // arithmetic (sub / divide-by-16 / floor), bitwise identical on
    // both engines, and the top bin absorbs x = max via LEAST.
    Query("q_col_histogram", (s, d) => {
      val bins = 16
      val li = t(s, d, "lineitem").select(col("l_extendedprice").as("x"))
      val bounds = li.agg(min(col("x")).as("lo"), max(col("x")).as("hi"))
      li.crossJoin(broadcast(bounds))
        // degenerate-domain guard: when every value is identical,
        // hi == lo makes the bin width 0 and (x-lo)/0 is 0/0 → NaN on
        // both engines — all rows belong in bin 0 (mirrored as a CASE
        // in the oracle)
        .withColumn("bin",
          when(col("hi") === col("lo"), lit(0L)).otherwise(
            least(floor((col("x") - col("lo")) /
              ((col("hi") - col("lo")) / lit(bins.toDouble))), lit(bins - 1L))
              .cast("long")))
        .groupBy(col("bin"))
        .agg(count(lit(1)).as("n"),
          round(min(col("x")), 6).as("bin_min"),
          round(max(col("x")), 6).as("bin_max"))
        .orderBy(col("bin"))
    }, Sql(
      """WITH b AS (
        |  SELECT MIN(l_extendedprice) AS lo, MAX(l_extendedprice) AS hi
        |  FROM lineitem
        |)
        |SELECT CASE WHEN hi = lo THEN CAST(0 AS BIGINT)
        |       ELSE CAST(LEAST(FLOOR((l_extendedprice - lo) / ((hi - lo) / 16.0)),
        |         15) AS BIGINT) END AS bin,
        |  COUNT(*) AS n,
        |  ROUND(MIN(l_extendedprice), 6) AS bin_min,
        |  ROUND(MAX(l_extendedprice), 6) AS bin_max
        |FROM lineitem, b
        |GROUP BY 1 ORDER BY bin""".stripMargin)),

    // Equi-DEPTH (equi-height) histogram — the histogram real ANALYZE
    // implementations keep (per-bucket row count is bounded BY
    // CONSTRUCTION, so a skewed value domain cannot melt one bucket the
    // way it melts equi-width bins; bucket boundaries ARE the
    // selectivity quantiles a CBO range estimate interpolates).
    // NTILE(16) over 600k prices would be the single-partition window
    // trap (the r8 lesson — and partitionBy(lit(1)) folds away);
    // Rank.exactNtile is the scale-safe equivalent: range-partitioned
    // global sort + broadcast per-partition rank offsets, one pass,
    // 16-row output. Ties broken by the (orderkey, linenumber) unique
    // key so the rank relation — and therefore every bucket boundary —
    // is deterministic cross-engine; money as integer cents.
    Query("q_histogram_eqdepth", (s, d) => {
      val rows = t(s, d, "lineitem").select(
        cents(col("l_extendedprice")).as("price_c"),
        col("l_orderkey"), col("l_linenumber"))
      graft.operators.Rank.exactNtile(rows, 16, "bucket",
          col("price_c"), col("l_orderkey"), col("l_linenumber"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n"), min(col("price_c")).as("lo_c"),
          max(col("price_c")).as("hi_c"))
        .orderBy(col("bucket"))
    }, Sql(
      // same NTILE definition (first rem tiles get base+1 rows); the
      // unique tie-break key makes the rank — and every boundary — exact
      """WITH r AS (
        |  SELECT CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS price_c,
        |    NTILE(16) OVER (ORDER BY CAST(ROUND(l_extendedprice * 100) AS BIGINT),
        |                    l_orderkey, l_linenumber) AS bucket
        |  FROM lineitem
        |)
        |SELECT CAST(bucket AS BIGINT) AS bucket, COUNT(*) AS n,
        |  MIN(price_c) AS lo_c, MAX(price_c) AS hi_c
        |FROM r GROUP BY 1 ORDER BY 1""".stripMargin)),

    // RFM customer segmentation (the classic marketing cube): per
    // customer recency (latest order date), frequency (order count),
    // monetary (lifetime cents), each cut into exact quintiles, then
    // segment population + revenue per (R, F, M) cell. Every quintile
    // is Rank.exactNtile — a range-partitioned global rank with
    // broadcast per-partition offsets, NEVER the single-partition
    // ntile window (`Window.orderBy` with no partition; the r8
    // curriculum lesson) — with a total order (metric desc, custkey)
    // so tile boundaries are deterministic cross-engine; the oracle's
    // NTILE over the same ORDER BY computes the identical tiling.
    Query("q_rfm_segments", (s, d) => {
      val per = t(s, d, "orders")
        .groupBy(col("o_custkey"))
        .agg(max(col("o_orderdate").cast("date")).as("last_order"),
          count(lit(1)).as("frequency"),
          sum(cents(col("o_totalprice"))).as("monetary_c"))
      val r = graft.operators.Rank.exactNtile(per, 5, "r_tile",
        col("last_order").desc, col("o_custkey"))
      val rf = graft.operators.Rank.exactNtile(r, 5, "f_tile",
        col("frequency").desc, col("o_custkey"))
      val rfm = graft.operators.Rank.exactNtile(rf, 5, "m_tile",
        col("monetary_c").desc, col("o_custkey"))
      rfm.groupBy(col("r_tile"), col("f_tile"), col("m_tile"))
        .agg(count(lit(1)).as("n_customers"),
          sum(col("monetary_c")).as("monetary_c"))
        .orderBy(col("r_tile"), col("f_tile"), col("m_tile"))
    }, Sql(
      """WITH per AS (
        |  SELECT o_custkey, MAX(CAST(o_orderdate AS DATE)) AS last_order,
        |    COUNT(*) AS frequency,
        |    CAST(SUM(CAST(ROUND(o_totalprice*100) AS BIGINT)) AS BIGINT)
        |      AS monetary_c
        |  FROM orders GROUP BY 1
        |),
        |tiles AS (
        |  SELECT monetary_c,
        |    CAST(NTILE(5) OVER (ORDER BY last_order DESC, o_custkey) AS BIGINT)
        |      AS r_tile,
        |    CAST(NTILE(5) OVER (ORDER BY frequency DESC, o_custkey) AS BIGINT)
        |      AS f_tile,
        |    CAST(NTILE(5) OVER (ORDER BY monetary_c DESC, o_custkey) AS BIGINT)
        |      AS m_tile
        |  FROM per
        |)
        |SELECT r_tile, f_tile, m_tile, COUNT(*) AS n_customers,
        |  CAST(SUM(monetary_c) AS BIGINT) AS monetary_c
        |FROM tiles GROUP BY 1, 2, 3
        |ORDER BY r_tile, f_tile, m_tile""".stripMargin)),

    // Deterministic random-walk corpus (the DeepWalk/node2vec sampler
    // over the co-purchase graph): 2 walks × 4 steps from the 20
    // smallest node ids; the next-step choice is mix64(node, walk,
    // step) mod degree — a pure function of the walk coordinates, so
    // the oracle REPLAYS every walk bit-for-bit through the mm64
    // HUGEINT twin (the q_minhash_sigs discipline applied to graph
    // sampling). Graph.randomWalks owns the scale shape: adjacency
    // built once + checkpointed, walk-sized relations per fixed step.
    Query("q_random_walks", (s, d) =>
      graft.operators.Graph.randomWalks(coPurchaseEdges(s, d),
        nStarts = 20, nWalks = 2, walkLen = 4, seed = 42)
        .orderBy(col("start"), col("w"), col("step"), col("node")),
      Sql(walkOracle)),

    // Deterministic label propagation (3 synchronous mode-update rounds
    // over the co-purchase graph; ties → min label, which is what makes
    // classic LPA SQL-mirrorable) → community-size census. Exact
    // integers; Graph.lpaSteps owns the scale shape (per round one
    // label join + one (node,label) count + one degree-bounded window,
    // labels checkpointed; Guarded fast path under the edge guard).
    Query("q_lpa_communities", (s, d) =>
      graft.operators.Graph.lpaSteps(coPurchaseEdges(s, d), rounds = 3)
        .groupBy(col("label")).agg(count(lit(1)).as("n_members"))
        .orderBy(col("label")),
      Sql(lpaOracle)),

    // Skip-gram co-occurrence + PMI over the deterministic walks — the
    // second half of the DeepWalk pipeline (the (center, context)
    // statistics SGNS implicitly factorizes — Levy & Goldberg 2014):
    // within each walk, pairs at step distance ≤ 2; counts and both
    // marginals are exact integers off ONE checkpointed pair relation;
    // PMI = ln(n·total / (n_center·n_context)) is the single float
    // seam (one division + one ln, mirrored op-for-op; the q_lm_score
    // cross-engine log convention). Walk-sized relations throughout.
    Query("q_walk_skipgrams", (s, d) => {
      val visits = graft.operators.Graph.randomWalks(coPurchaseEdges(s, d),
        nStarts = 20, nWalks = 2, walkLen = 4, seed = 42)
        .localCheckpoint(true) // self-joined: both sides read it
      val a = visits.select(col("start"), col("w"), col("step").as("sa"),
        col("node").as("center"))
      val b = visits.select(col("start"), col("w"), col("step").as("sb"),
        col("node").as("context"))
      val pairs = a.join(b, Seq("start", "w"))
        .filter(col("sa") =!= col("sb") &&
          abs(col("sa") - col("sb")) <= 2)
        .groupBy(col("center"), col("context")).agg(count(lit(1)).as("n"))
        .localCheckpoint(true) // read by the total + two marginal branches
      val total = pairs.agg(sum(col("n")).as("tot"))
      val cM = pairs.groupBy(col("center")).agg(sum(col("n")).as("n_c"))
      val xM = pairs.groupBy(col("context")).agg(sum(col("n")).as("n_x"))
      pairs.join(cM, Seq("center")).join(xM, Seq("context"))
        .crossJoin(broadcast(total))
        .select(col("center"), col("context"), col("n"),
          round(log((col("n") * col("tot")).cast("double") /
            (col("n_c") * col("n_x")).cast("double")), 6).as("pmi_r"))
        .orderBy(col("center"), col("context"))
    }, Sql(
      // the replayed walks feed the same windowed pair count + marginals
      s"""WITH $walkCte,
         |pr AS (
         |  SELECT a.node AS center, b.node AS context, COUNT(*) AS n
         |  FROM visits a JOIN visits b
         |    ON a.start = b.start AND a.w = b.w
         |   AND a.step <> b.step AND abs(a.step - b.step) <= 2
         |  GROUP BY 1, 2),
         |tot AS (SELECT SUM(n) AS tot FROM pr),
         |cm AS (SELECT center, SUM(n) AS n_c FROM pr GROUP BY center),
         |xm AS (SELECT context, SUM(n) AS n_x FROM pr GROUP BY context)
         |SELECT p.center, p.context, p.n,
         |  ROUND(ln(CAST(p.n * t.tot AS DOUBLE) /
         |    CAST(c.n_c * x.n_x AS DOUBLE)), 6) AS pmi_r
         |FROM pr p JOIN cm c USING (center) JOIN xm x USING (context), tot t
         |ORDER BY center, context""".stripMargin)),

    // Pairwise Pearson correlation matrix from EXACT integer moments
    // (the other ANALYZE artifact next to q_table_stats — the CBO/
    // feature-selection correlation screen): ONE scan, ONE single-row
    // aggregate computing n, Σx and Σxy for all 4 columns / 10 pairs as
    // DECIMAL(38,0) sums of integer cents (long products stay < 2^63
    // per row; the SUMS are what overflow long at scale, hence decimal
    // — headroom to ~10^38 covers n·x² at 100 TB row counts), then the
    // textbook corr formula over those exact integers with ONE double
    // seam at the final divide. Unlike the streaming-co-moment corr
    // aggregate (partition-merge order wobbles the low bits, so a
    // CPUS=3 vs 8 sweep can flip a 6dp round), exact moments make the
    // result a deterministic pure function of the data.
    Query("q_corr_matrix", (s, d) => {
      val names = momentNames
      val one = lineitemMoments(s, d)
      def variance(a: String) =
        (col("n") * col(s"sp_${a}_$a") - col(s"s_$a") * col(s"s_$a"))
          .cast("double")
      def corrOf(a: String, b: String) = det6(
        (col("n") * col(s"sp_${a}_$b") - col(s"s_$a") * col(s"s_$b"))
          .cast("double") / sqrt(variance(a) * variance(b)))
      val pairs = for {
        i <- names.indices; j <- (i + 1) until names.size
      } yield struct(lit(names(i)).as("col_a"), lit(names(j)).as("col_b"),
        corrOf(names(i), names(j)).as("corr_r"))
      one.select(explode(array(pairs: _*)).as("p"))
        .select(col("p.col_a").as("col_a"), col("p.col_b").as("col_b"),
          col("p.corr_r").as("corr_r"))
        .orderBy(col("col_a"), col("col_b"))
    }, Sql(corrMatrixOracle)),

    // Skyline / Pareto frontier (the multi-objective "best tradeoffs"
    // query — cheapest part for each size class you can't beat on both
    // axes): parts minimizing retail price while maximizing size. The
    // frontier is computed by Pareto.skyline2d — local-prune + bounded
    // merge (prefix max via a BUCKET-partitioned window plus O(buckets)
    // driver state), NEVER the single-partition global window the sort+
    // running-max textbook form suggests. Money as integer cents; the
    // oracle computes the same strictly-increasing-y envelope with
    // DuckDB's running max (its single-node window IS the textbook
    // form — fine for an oracle, wrong for the engine).
    Query("q_skyline", (s, d) => {
      val pts = t(s, d, "part").select(
        cents(col("p_retailprice")).as("price_c"),
        col("p_size").cast("long").as("size"))
      graft.operators.Pareto.skyline2d(pts, "price_c", "size")
    }, Sql(
      // after the x-tie collapse the skyline is exactly the rows whose y
      // strictly beats the running max over ascending x — the oracle may
      // use the single-node window the engine must not
      """WITH pts AS (
        |  SELECT CAST(ROUND(p_retailprice * 100) AS BIGINT) AS price_c,
        |    CAST(MAX(p_size) AS BIGINT) AS size
        |  FROM part GROUP BY 1
        |), w AS (
        |  SELECT price_c, size, MAX(size) OVER (ORDER BY price_c
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS mx
        |  FROM pts
        |)
        |SELECT price_c, size FROM w
        |WHERE mx IS NULL OR size > mx
        |ORDER BY price_c""".stripMargin)),

    // OPTIMIZE/compaction report (the warehouse-maintenance planning
    // query next to q_mv_refresh/q_scd2/q_table_stats; pairs with
    // Layout.zorderWrite, which fixes WHERE rows go — this plans HOW
    // MANY files they should live in): per source, the small-files
    // census of a deterministic file manifest plus the sequential
    // quota-packing plan a compactor would execute — files in manifest
    // order fill a running byte quota and file i lands in output bin
    // (cum_bytes_i - 1) / target (integer division), so n_output =
    // distinct bins and each output's size is the bin's byte sum.
    // The manifest derives deterministically from data (doc_id % 20
    // buckets per source, bytes = sum of n_chars) because the real
    // file-listing side is engine metadata DuckDB can't see — the
    // PLANNING arithmetic, which is what can silently regress, is what
    // the oracle witnesses. Scale posture: a manifest is metadata-sized
    // (one row per FILE, not per row); the cumsum window partitions by
    // source over ~|files/source| rows — never a single-partition
    // stage; everything downstream of the first groupBy is file-count
    // sized. All integer arithmetic — no float seam.
    Query("q_compaction_plan", (s, d) => {
      val target = 4000L // output-file byte quota; T/2 = small-file line
      val manifest = t(s, d, "documents")
        .groupBy(col("source"), pmod(col("doc_id"), lit(20L)).as("file_id"))
        .agg(sum(col("n_chars")).as("bytes"))
      val w = Window.partitionBy(col("source")).orderBy(col("file_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val planned = manifest
        .withColumn("cum", sum(col("bytes")).over(w))
        // guarded floor (mirrored in the oracle): an all-empty-docs
        // first file would put cum at 0 and (cum-1)/T at a negative
        // fraction, where floor and toward-zero truncation disagree
        .withColumn("bin", floor((greatest(col("cum"), lit(1L)) - 1L) /
          lit(target.toDouble)).cast("long"))
      val bins = planned.groupBy(col("source"), col("bin"))
        .agg(sum(col("bytes")).as("bin_bytes"))
      val perSource = planned.groupBy(col("source")).agg(
        count(lit(1)).as("n_files"),
        sum(when(col("bytes") < lit(target / 2), 1L).otherwise(0L))
          .as("n_small"),
        sum(col("bytes")).as("total_bytes"))
      perSource.join(
          bins.groupBy(col("source")).agg(
            count(lit(1)).as("n_output_files"),
            max(col("bin_bytes")).as("max_output_bytes")),
          Seq("source"))
        .orderBy(col("source"))
    }, Sql(
      """WITH manifest AS (
        |  SELECT source, doc_id % 20 AS file_id,
        |    CAST(SUM(n_chars) AS BIGINT) AS bytes
        |  FROM documents GROUP BY source, doc_id % 20
        |), planned AS (
        |  SELECT source, file_id, bytes,
        |    SUM(bytes) OVER (PARTITION BY source ORDER BY file_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM manifest
        |), binned AS (
        |  SELECT *, CAST(FLOOR((GREATEST(cum, 1) - 1) / 4000.0) AS BIGINT) AS bin
        |  FROM planned
        |), bins AS (
        |  SELECT source, bin, CAST(SUM(bytes) AS BIGINT) AS bin_bytes
        |  FROM binned GROUP BY source, bin
        |), per_source AS (
        |  SELECT source, COUNT(*) AS n_files,
        |    CAST(SUM(CASE WHEN bytes < 2000 THEN 1 ELSE 0 END) AS BIGINT) AS n_small,
        |    CAST(SUM(bytes) AS BIGINT) AS total_bytes
        |  FROM binned GROUP BY source
        |)
        |SELECT p.source, p.n_files, p.n_small, p.total_bytes,
        |  b.n_output_files, b.max_output_bytes
        |FROM per_source p JOIN (
        |  SELECT source, COUNT(*) AS n_output_files,
        |    CAST(MAX(bin_bytes) AS BIGINT) AS max_output_bytes
        |  FROM bins GROUP BY source) b USING (source)
        |ORDER BY p.source""".stripMargin)),

    // Constraint-drift diff across two epochs (the data-quality twin of
    // q_source_drift, pointed at WAREHOUSE invariants instead of corpus
    // profiles): split orders at a date cutoff and diff the profile a
    // DQ gate would alarm on — row count, mean/min/max price, exact
    // customer NDV, and the F-status share. One epoch-keyed aggregate
    // (two groups), then a 2-row conditional collapse and a 6-row
    // metric unpivot — everything after the first pass is constant-
    // sized. Means/shares are ExactRatio.ratio6 (exact integer 6-dp
    // rounding — no ROUND(DOUBLE) anywhere); drift computed FROM those
    // bit-identical values with det6, so no library-round seam remains.
    Query("q_dq_drift", (s, d) => {
      val cutoff = to_date(lit("1996-01-01"))
      val byEpoch = t(s, d, "orders")
        .withColumn("epoch",
          when(col("o_orderdate").cast("date") < cutoff, "a").otherwise("b"))
        .groupBy(col("epoch")).agg(
          count(lit(1)).as("n_rows"),
          sum(cents(col("o_totalprice"))).as("sum_c"),
          min(cents(col("o_totalprice"))).as("min_c"),
          max(cents(col("o_totalprice"))).as("max_c"),
          countDistinct(col("o_custkey")).as("ndv_cust"),
          sum(when(col("o_orderstatus") === "F", 1L).otherwise(0L))
            .as("n_f"))
      def side(e: String, c: Column): Column =
        max(when(col("epoch") === e, c))
      val wide = byEpoch.agg(
        side("a", col("n_rows")).as("rows_a"), side("b", col("n_rows")).as("rows_b"),
        ratio6(side("a", col("sum_c")), side("a", col("n_rows"))).as("mean_a"),
        ratio6(side("b", col("sum_c")), side("b", col("n_rows"))).as("mean_b"),
        side("a", col("min_c")).as("min_a"), side("b", col("min_c")).as("min_b"),
        side("a", col("max_c")).as("max_a"), side("b", col("max_c")).as("max_b"),
        side("a", col("ndv_cust")).as("ndv_a"), side("b", col("ndv_cust")).as("ndv_b"),
        ratio6(side("a", col("n_f")), side("a", col("n_rows"))).as("f_a"),
        ratio6(side("b", col("n_f")), side("b", col("n_rows"))).as("f_b"))
      val metrics = Seq(
        ("n_rows", col("rows_a").cast("double"), col("rows_b").cast("double")),
        ("price_mean_c", col("mean_a"), col("mean_b")),
        ("price_min_c", col("min_a").cast("double"), col("min_b").cast("double")),
        ("price_max_c", col("max_a").cast("double"), col("max_b").cast("double")),
        ("ndv_custkey", col("ndv_a").cast("double"), col("ndv_b").cast("double")),
        ("f_status_share", col("f_a"), col("f_b")))
      // unpivot via ONE 6-struct explode (the q_table_stats pattern)
      // instead of a 6-way unionByName of selects over `wide`: column
      // pruning forked each union branch into its own copy of the
      // orders scan + both aggregates (12 parquet scans in the plan;
      // the driver's 8-vs-32-core probe read this line 3.2× SLOWER at
      // 32 cores from the 6× task churn). Per-metric expressions are
      // unchanged, so every value is bit-identical.
      wide.select(explode(array(metrics.map { case (name, a, b) =>
          struct(lit(name).as("metric"), a.as("epoch_a"), b.as("epoch_b"),
            det6(abs(b - a) / greatest(abs(a), lit(1e-9))).as("rel_drift"))
        }: _*)).as("m"))
        .select(col("m.metric").as("metric"), col("m.epoch_a").as("epoch_a"),
          col("m.epoch_b").as("epoch_b"), col("m.rel_drift").as("rel_drift"))
        .orderBy(col("metric"))
    }, Sql(
      s"""WITH e AS (
        |  SELECT CASE WHEN CAST(o_orderdate AS DATE) < DATE '1996-01-01'
        |           THEN 'a' ELSE 'b' END AS epoch,
        |    CAST(ROUND(o_totalprice*100) AS BIGINT) AS price_c,
        |    o_custkey, o_orderstatus
        |  FROM orders
        |), g AS (
        |  SELECT epoch, COUNT(*) AS n_rows,
        |    CAST(SUM(price_c) AS BIGINT) AS sum_c,
        |    MIN(price_c) AS min_c, MAX(price_c) AS max_c,
        |    COUNT(DISTINCT o_custkey) AS ndv_cust,
        |    CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_f
        |  FROM e GROUP BY epoch
        |), w AS (
        |  SELECT
        |    MAX(CASE WHEN epoch='a' THEN n_rows END) AS rows_a,
        |    MAX(CASE WHEN epoch='b' THEN n_rows END) AS rows_b,
        |    ${ratio6Sql("MAX(CASE WHEN epoch='a' THEN sum_c END)",
                         "MAX(CASE WHEN epoch='a' THEN n_rows END)")} AS mean_a,
        |    ${ratio6Sql("MAX(CASE WHEN epoch='b' THEN sum_c END)",
                         "MAX(CASE WHEN epoch='b' THEN n_rows END)")} AS mean_b,
        |    MAX(CASE WHEN epoch='a' THEN min_c END) AS min_a,
        |    MAX(CASE WHEN epoch='b' THEN min_c END) AS min_b,
        |    MAX(CASE WHEN epoch='a' THEN max_c END) AS max_a,
        |    MAX(CASE WHEN epoch='b' THEN max_c END) AS max_b,
        |    MAX(CASE WHEN epoch='a' THEN ndv_cust END) AS ndv_a,
        |    MAX(CASE WHEN epoch='b' THEN ndv_cust END) AS ndv_b,
        |    ${ratio6Sql("MAX(CASE WHEN epoch='a' THEN n_f END)",
                         "MAX(CASE WHEN epoch='a' THEN n_rows END)")} AS f_a,
        |    ${ratio6Sql("MAX(CASE WHEN epoch='b' THEN n_f END)",
                         "MAX(CASE WHEN epoch='b' THEN n_rows END)")} AS f_b
        |  FROM g
        |), m AS (
        |  SELECT 'n_rows' AS metric, CAST(rows_a AS DOUBLE) AS epoch_a, CAST(rows_b AS DOUBLE) AS epoch_b FROM w
        |  UNION ALL SELECT 'price_mean_c', mean_a, mean_b FROM w
        |  UNION ALL SELECT 'price_min_c', CAST(min_a AS DOUBLE), CAST(min_b AS DOUBLE) FROM w
        |  UNION ALL SELECT 'price_max_c', CAST(max_a AS DOUBLE), CAST(max_b AS DOUBLE) FROM w
        |  UNION ALL SELECT 'ndv_custkey', CAST(ndv_a AS DOUBLE), CAST(ndv_b AS DOUBLE) FROM w
        |  UNION ALL SELECT 'f_status_share', f_a, f_b FROM w
        |)
        |SELECT metric, epoch_a, epoch_b,
        |  ${det6Sql("ABS(epoch_b - epoch_a) / GREATEST(ABS(epoch_a), 1e-9)")} AS rel_drift
        |FROM m ORDER BY metric""".stripMargin)),

    // Sorted-neighborhood fuzzy matching (Hernández/Stolfo SNM): the
    // third candidate-generation discipline of the entity-resolution
    // family (q_fuzzy_parts = capped full in-block pairing, q_fuzzy_jw =
    // same blocks + JW scores; this = global SORT + sliding window of
    // w=5). SNM bounds candidates at O(n·(w-1)) with NO cap needed —
    // each row pairs with only its w-1 successors in the block's sorted
    // order — trading recall for a hard linear bound: only
    // near-neighbors in sort order are compared, which is why
    // production ER runs multiple passes with different sort keys.
    // The neighborhood pass is SortedNeighborhood.pairs — a
    // RANGE-partitioned global sort on (block, p_name) with a w-1-row
    // boundary handoff between adjacent partitions — NOT the
    // block-PARTITIONED window (`lead(i) over partitionBy(block)`),
    // whose parallelism is capped at |distinct block| forever: the
    // last-token block key here draws from TPC-H's fixed 92-color
    // vocabulary, so the windowed form tops out at 92 tasks each
    // sorting a corpus-share that grows linearly (the r11 verdict
    // finding). Scores via the codegen'd Jaro-Winkler, 6dp-rounded on
    // both engines before the threshold compare.
    Query("q_fuzzy_snm", (s, d) => {
      val names = t(s, d, "part").select(col("p_name")).distinct()
        .withColumn("block", element_at(split(col("p_name"), " "), -1))
      val pairs = graft.operators.SortedNeighborhood.pairs(
        names.select(col("block"), col("p_name")), "block", "p_name", w = 5)
      pairs.withColumn("jw_r", round(
          graft.functions.TextHashFunctions.jaro_winkler(col("a"), col("b")), 6))
        .filter(col("jw_r") >= 0.9)
        .select(col("block"), col("a"), col("b"), col("jw_r"))
        .orderBy(col("a"), col("b"))
    }, Sql(
      s"""WITH $partBlockCtes, cand AS (
        |  SELECT a.block, a.p_name AS a, b.p_name AS b
        |  FROM r a JOIN r b
        |    ON a.block = b.block AND b.rn - a.rn BETWEEN 1 AND 4
        |), scored AS (
        |  SELECT block, a, b,
        |    ROUND(jaro_winkler_similarity(a, b), 6) AS jw_r
        |  FROM cand
        |)
        |SELECT block, a, b, jw_r FROM scored
        |WHERE jw_r >= 0.9
        |ORDER BY a, b""".stripMargin)),

    // HITS hubs & authorities on the DIRECTED customer→supplier trade
    // graph (q_pagerank's relation without the symmetrizing union):
    // authority = consensus suppliers, hub = broad-curating customers.
    // Graph.hits runs 5 L1-normalized mutual-recurrence rounds — per
    // round two score-keyed equi-joins + two map-side-partial sums, with
    // both normalizers attached as lazy broadcast 1-row crossJoins (no
    // per-round driver action) — under the same guarded fast path /
    // measured broadcast-vs-shuffle-hash dispatch as PageRank. The
    // oracle is a GENERATED unrolled CTE mirroring the exact arithmetic,
    // so the iteration math is witnessed end-to-end; scores rounded 6dp
    // (double-sum addition-order seam, SCALING.md contract).
    Query("q_hits", (s, d) => hitsFull(s, d, localThreshold = 2000000L),
      Sql(hitsOracle)),

    // k-hop BFS frontiers from a seed segment (the graph
    // feature-engineering primitive: "what does this cohort reach in k
    // steps"): BUILDING-segment customers → their suppliers (hop 1) →
    // those suppliers' other customers (hop 2) → THEIR further
    // suppliers (hop 3). Each hop is one equi-join + distinct + an
    // anti-join subtracting the prior same-side frontier — a FIXED
    // number of bounded shuffles, no iteration state; frontier
    // relations never exceed one row per node. On the bipartite trade
    // graph sides alternate, so the subtraction only ever compares
    // same-typed frontiers. Output: per-hop distinct node counts (the
    // reach curve) — 3 rows.
    Query("q_khop", (s, d) => {
      val o = t(s, d, "orders").select(col("o_orderkey"), col("o_custkey"))
      val l = t(s, d, "lineitem").select(col("l_orderkey"), col("l_suppkey"))
      // Eager localCheckpoints on every multiply-consumed relation (the
      // r15 column-pruning-fork lesson, same as coPurchaseEdges): cs is
      // read by all three hop joins, hop1 by two consumers + its own
      // count, hop2 by two — without the pins the orders⋈lineitem
      // distinct re-ran up to 6× (measured r17: 24-26 jobs with
      // duplicated edge-build pairs, 2.1-2.8 s; pinned: the build runs
      // once and each hop is one frontier-sized join).
      // Guarded frontier broadcast (the Graph.run maxBroadcastNodes
      // discipline, measured not assumed): every frontier is already an
      // eagerly-materialized checkpoint, so the count reads blocks; at
      // or under the 1M-node guard the hop joins become broadcast-hash
      // probes that STREAM cs — the edge relation is never re-shuffled
      // or sorted per hop (measured r18: each hop re-exchanged the
      // 5.5 MB cs relation). Over the guard the plain shuffle join runs
      // unchanged — the 100 TB path is untouched.
      def bcast(df: DataFrame): DataFrame =
        if (df.count() <= 1000000L) broadcast(df) else df
      // the edge build and the seed set are independent eager pins —
      // overlap them from two driver threads (guide §2.6, the
      // q_lsh_recall pattern); the hop chain itself is sequential
      val Seq(cs, seeds) = graft.operators.Guarded.pinAll(s)(Seq(
        () => o.join(l, col("o_orderkey") === col("l_orderkey"))
          .select(col("o_custkey").as("c"), col("l_suppkey").as("s")).distinct()
          .localCheckpoint(true),
        () => bcast(t(s, d, "customer")
          .filter(col("c_mktsegment") === "BUILDING")
          .select(col("c_custkey").as("c")).distinct()
          .localCheckpoint(true))))
      val hop1 = bcast(cs.join(seeds, Seq("c")).select(col("s")).distinct()
        .localCheckpoint(true))
      val hop2 = bcast(cs.join(hop1, Seq("s")).select(col("c")).distinct()
        .join(seeds, Seq("c"), "left_anti")
        .localCheckpoint(true))
      val hop3 = cs.join(hop2, Seq("c")).select(col("s")).distinct()
        .join(hop1, Seq("s"), "left_anti")
      val agg = (df: DataFrame, hop: Int) =>
        df.agg(lit(hop.toLong).as("hop"), count(lit(1)).as("n_nodes"))
          .select(col("hop"), col("n_nodes"))
      agg(hop1, 1).unionAll(agg(hop2, 2)).unionAll(agg(hop3, 3))
        .orderBy(col("hop"))
    }, Sql(
      """WITH cs AS (
        |  SELECT DISTINCT o_custkey AS c, l_suppkey AS s
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |), seeds AS (
        |  SELECT DISTINCT c_custkey AS c FROM customer
        |  WHERE c_mktsegment = 'BUILDING'
        |), hop1 AS (
        |  SELECT DISTINCT s FROM cs JOIN seeds USING (c)
        |), hop2 AS (
        |  SELECT DISTINCT c FROM cs JOIN hop1 USING (s)
        |  WHERE c NOT IN (SELECT c FROM seeds)
        |), hop3 AS (
        |  SELECT DISTINCT s FROM cs JOIN hop2 USING (c)
        |  WHERE s NOT IN (SELECT s FROM hop1)
        |)
        |SELECT CAST(1 AS BIGINT) AS hop, COUNT(*) AS n_nodes FROM hop1
        |UNION ALL
        |SELECT 2, COUNT(*) FROM hop2
        |UNION ALL
        |SELECT 3, COUNT(*) FROM hop3
        |ORDER BY hop""".stripMargin)),

    // Weighted shortest paths (4 Bellman-Ford relaxation rounds) from
    // the BUILDING-segment customers over the symmetric trade graph,
    // edge cost = trade-strength tier (≥3 shared orders → 1, 2 → 2,
    // 1 → 3): "how close is every entity to this segment, through
    // strong ties" — the weighted complement of q_khop's reach curve
    // and the third iterative-graph discipline (distance semiring next
    // to PageRank's sum-product and CC's min-label). Every node's dist
    // surfaces, so the min-over-alternative-paths arithmetic is
    // genuinely exercised (a hop-2 customer found at cost 3+3 may be
    // improved by a later 1+1+1+1 path — the relaxation the oracle's
    // unrolled rounds witness). Exact integer math end to end: the ONE
    // graph family with zero float seam, so distances match the oracle
    // bit-for-bit with no rounding. Graph.sssp owns the scale shape
    // (edges checkpointed + pre-partitioned once, frontier-sized
    // relations per round, guarded broadcast, driver fast path under
    // the measured-edge guard).
    Query("q_sssp", (s, d) => ssspFull(s, d, localThreshold = 2000000L),
      Sql(ssspOracle)),

    // End-to-end entity resolution (the MDM master-data flow): block →
    // score (codegen'd Jaro-Winkler) → match (threshold) → CLUSTER
    // (connected components over the match graph) → survivorship (the
    // min-name golden record per cluster). Every stage is an existing
    // operator — capped blockedPairs candidates, the guarded
    // pointer-jumping CC — composed; the oracle witnesses the whole
    // chain with a cycle-safe RECURSIVE UNION closure (UNION, not UNION
    // ALL: the match graph is undirected/cyclic, and the q_cc_recursive
    // descending-edge trick only works on chain-shaped pair relations —
    // min-over-descending-paths is NOT the component min on general
    // graphs).
    Query("q_er_clusters", (s, d) => {
      val matched = jwMatches(s, d)
        .select(col("a").as("id_a"), col("b").as("id_b"))
      graft.operators.Dedup.connectedComponents(matched)
        .groupBy(col("comp").as("golden_name"))
        .agg(count(lit(1)).as("n_members"), max(col("id")).as("last_member"))
        .orderBy(col("golden_name"))
    }, Sql(
      // same blocked-JW match relation as q_fuzzy_jw, closed with a
      // cycle-safe recursive UNION (the undirected match graph may have
      // cycles; UNION's dedup terminates the fixpoint)
      s"""WITH RECURSIVE $partBlockCtes, $cappedNameCandCte, m AS (
        |  SELECT a, b FROM cand
        |  WHERE ROUND(jaro_winkler_similarity(a, b), 6) >= 0.9
        |), e AS (
        |  SELECT a AS src, b AS dst FROM m
        |  UNION ALL SELECT b AS src, a AS dst FROM m
        |), reach(id, cur) AS (
        |  SELECT src, src FROM e
        |  UNION
        |  SELECT re.id, e.dst FROM reach re JOIN e ON re.cur = e.src
        |), lab AS (
        |  SELECT id, MIN(cur) AS comp FROM reach GROUP BY id
        |)
        |SELECT comp AS golden_name, COUNT(*) AS n_members,
        |  MAX(id) AS last_member
        |FROM lab GROUP BY comp ORDER BY golden_name""".stripMargin)),

    // Winsorized robust scaling (the outlier-tolerant feature-prep pass:
    // clip to [p01, p99], report the clipped mean + the IQR dispersion):
    // two passes by construction — a per-group percentile aggregate
    // (p01/p25/p75/p99 in ONE pass), broadcast back (≤|flags| rows),
    // then one clip+aggregate scan. Everything downstream of the
    // interpolated percentiles is EXACT integer math: bounds round to
    // integer CENTS, so the winsorized column is long, its clip compares
    // are integer compares, and avg(long) is an exact integer sum on
    // both engines (bit-equal means, no float-summation seam — the one
    // double seam left is the percentile interpolation itself, the
    // q_percentiles-established 6dp parity). Dispersion is the IQR
    // (p75−p25), not stddev: a Welford-merge stddev over price-scale
    // values diverges cross-engine below 6dp, while IQR rides the same
    // percentile parity as the bounds.
    Query("q_winsorize", (s, d) => {
      // widen + pin: both passes below are per-row CPU (percentile
      // buffer insert, clip+agg) and consume this relation once each —
      // on the single-file fixture the percentile map side ran on the
      // 1-task scan (measured r18: 868 ms of a 2.2 s line); the eager
      // checkpoint stops the second pass re-decoding the parquet. The
      // exact percentile is sort-based (order-independent), so the
      // layout change cannot move any value. Hash on pc (high-card).
      val li = graft.operators.Layout.widen(
          t(s, d, "lineitem").select(col("l_returnflag"),
            cents(col("l_extendedprice")).as("pc")), col("pc"),
          Tables.scanSplits(s, d, "lineitem"))
        .localCheckpoint(true)
      // ONE percentile buffer for all four cut points (the array form):
      // four scalar percentile() aggregates each buffer + sort the full
      // per-group value set independently — measured 4.5 s vs 1.9 s at
      // sf0.1 for identical values
      val b = li.groupBy(col("l_returnflag")).agg(
          expr("percentile(pc, array(0.01D, 0.25D, 0.75D, 0.99D))").as("ps"))
        .select(col("l_returnflag"),
          round(element_at(col("ps"), 1), 0).cast("long").as("lo_c"),
          round(element_at(col("ps"), 4), 0).cast("long").as("hi_c"),
          (element_at(col("ps"), 3) - element_at(col("ps"), 2)).as("iqr"))
      li.join(broadcast(b), Seq("l_returnflag"))
        .select(col("l_returnflag"),
          least(greatest(col("pc"), col("lo_c")), col("hi_c")).as("wv"),
          when(col("pc") < col("lo_c"), 1L).otherwise(0L).as("cl"),
          when(col("pc") > col("hi_c"), 1L).otherwise(0L).as("ch"),
          col("lo_c"), col("hi_c"), col("iqr"))
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          sum(col("cl")).as("n_lo"), sum(col("ch")).as("n_hi"),
          min(col("lo_c")).as("lo_c"), min(col("hi_c")).as("hi_c"),
          // NOT avg(): Spark's Average over longs accumulates in a
          // DOUBLE, exact only below 2^53 — sum(long) is the exact
          // integer sum at any scale, and exact-sum / exact-count is
          // ONE correctly-rounded double division on both engines
          ratio6(sum(col("wv")), count(lit(1))).as("mean_w"),
          round(min(col("iqr")), 6).as("iqr_r"))
        .orderBy(col("l_returnflag"))
    }, Sql(
      // bounds round to integer cents, so everything after the percentile
      // interpolation is exact integer math on both engines (see the query)
      s"""WITH li AS (
        |  SELECT l_returnflag,
        |    CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS pc
        |  FROM lineitem
        |), b AS (
        |  SELECT l_returnflag,
        |    CAST(ROUND(CAST(quantile_cont(pc, 0.01) AS DOUBLE), 0) AS BIGINT) AS lo_c,
        |    CAST(ROUND(CAST(quantile_cont(pc, 0.99) AS DOUBLE), 0) AS BIGINT) AS hi_c,
        |    CAST(quantile_cont(pc, 0.75) AS DOUBLE)
        |      - CAST(quantile_cont(pc, 0.25) AS DOUBLE) AS iqr
        |  FROM li GROUP BY 1
        |), w AS (
        |  SELECT li.l_returnflag,
        |    LEAST(GREATEST(pc, lo_c), hi_c) AS wv,
        |    CASE WHEN pc < lo_c THEN 1 ELSE 0 END AS cl,
        |    CASE WHEN pc > hi_c THEN 1 ELSE 0 END AS ch,
        |    lo_c, hi_c, iqr
        |  FROM li JOIN b ON li.l_returnflag = b.l_returnflag
        |)
        |SELECT l_returnflag, COUNT(*) AS n,
        |  CAST(SUM(cl) AS BIGINT) AS n_lo, CAST(SUM(ch) AS BIGINT) AS n_hi,
        |  MIN(lo_c) AS lo_c, MIN(hi_c) AS hi_c,
        |  ${ratio6Sql("SUM(wv)", "COUNT(*)")} AS mean_w,
        |  ROUND(MIN(iqr), 6) AS iqr_r
        |FROM w GROUP BY 1 ORDER BY l_returnflag""".stripMargin)),

    // Link prediction over the co-purchase graph (the "complete the
    // graph" primitive behind co-buy recommendations and knowledge-graph
    // completion): every NON-adjacent pair two hops apart scored by the
    // three classic measures — common neighbors, Jaccard, Adamic-Adar.
    // One wedge self-join on the shared middle node (the q_triangles
    // shape), center fan capped at 64 (mirrored in the oracle with
    // ROW_NUMBER — the capped-pairs algebra; TRUE degrees still feed the
    // formulas), candidates anti-joined against the edge set. The AA sum
    // is a float sum over per-pair common-neighbor degrees, so the
    // engine folds it in sorted order (sort_array + aggregate HOF) —
    // partition-count-independent bit-identical output; the oracle's
    // single-node SUM differs only below the 6dp contract.
    Query("q_link_predict", (s, d) =>
      linkScores(s, d)
        .orderBy(col("cn").desc, col("u"), col("w")).limit(50),
      Sql(
      // full link-scored relation, top-50 by common-neighbor count
      s"""WITH $linkCte
         |SELECT u, w, cn, aa_r, jacc_r FROM lnk
         |ORDER BY cn DESC, u, w LIMIT 50""".stripMargin)),

    // per-node top-3 link recommendations from the same scored relation
    // (ONE definition shared with q_link_predict): both directions,
    // window partitioned by node — parallelism grows with |nodes|, and
    // ties broken on the ROUNDED score + partner id so the rank is
    // cross-engine deterministic.
    Query("q_link_recs", (s, d) => {
      // both directions via ONE explode, not a self-union — a union
      // would compute the whole wedge-join plan twice (no exchange
      // reuse across the differing projections; measured 4.8 s vs
      // 2.6 s at sf0.1)
      val both = linkScores(s, d).select(explode(array(
          struct(col("u").as("node"), col("w").as("partner"), col("aa_r")),
          struct(col("w").as("node"), col("u").as("partner"), col("aa_r"))))
          .as("e"))
        .select(col("e.node").as("node"), col("e.partner").as("partner"),
          col("e.aa_r").as("aa_r"))
      val wtop = Window.partitionBy(col("node"))
        .orderBy(col("aa_r").desc, col("partner"))
      both.withColumn("rnk", row_number().over(wtop).cast("long"))
        .filter(col("rnk") <= 3)
        .orderBy(col("node"), col("rnk"))
    }, Sql(
      // per-node top-3 by (rounded AA, partner) over the same relation
      s"""WITH $linkCte,
         |both_dirs AS (
         |  SELECT u AS node, w AS partner, aa_r FROM lnk
         |  UNION ALL
         |  SELECT w AS node, u AS partner, aa_r FROM lnk),
         |rk AS (
         |  SELECT node, partner, aa_r,
         |    ROW_NUMBER() OVER (PARTITION BY node
         |      ORDER BY aa_r DESC, partner) AS rnk
         |  FROM both_dirs)
         |SELECT node, partner, aa_r, rnk FROM rk WHERE rnk <= 3
         |ORDER BY node, rnk""".stripMargin)),

    // Exact-moments OLS per group (y = extendedprice cents on
    // x = quantity): slope/intercept/R² from DECIMAL(38,0) integer
    // moments — the q_corr_matrix discipline — so the sums are
    // partitioning-independent and the only float ops are the final
    // divisions, written in the SAME order on both engines.
    Query("q_ols_fit", (s, d) => {
      val li = t(s, d, "lineitem").select(col("l_returnflag"),
        col("l_quantity").cast("long").as("x"),
        cents(col("l_extendedprice")).as("y"))
      val m = li.groupBy(col("l_returnflag")).agg(
        count(lit(1)).cast("decimal(38,0)").as("n"),
        sum(dec(col("x"))).as("sx"), sum(dec(col("y"))).as("sy"),
        sum(dec(col("x") * col("x"))).as("sxx"),
        sum(dec(col("x") * col("y"))).as("sxy"),
        sum(dec(col("y") * col("y"))).as("syy"))
      // slope/intercept as EXACT integer ratios (sratio6: the centered
      // moments are DECIMAL(38,0) integers, and the intercept clears the
      // inner slope fraction: (sy·Sxx − Sxy·sx)/(n·Sxx)); r² via det6 —
      // its numerator Sxy² would overflow DECIMAL(38,0)·10⁶, and the
      // double chain below is written in the same op order as the oracle
      // so the input bits already match.
      val sxxc = col("n") * col("sxx") - col("sx") * col("sx")
      val sxyc = col("n") * col("sxy") - col("sx") * col("sy")
      val syyc = col("n") * col("syy") - col("sy") * col("sy")
      m.select(col("l_returnflag"), col("n").cast("long").as("n_rows"),
          sratio6(sxyc, sxxc).as("slope_r"),
          sratio6(col("sy") * sxxc - sxyc * col("sx"), col("n") * sxxc)
            .as("intercept_r"),
          det6(sxyc.cast("double") * sxyc.cast("double") /
            (sxxc.cast("double") * syyc.cast("double"))).as("r2_r"))
        .orderBy(col("l_returnflag"))
    }, Sql(
      // exact decimal moments, float only at the final divisions — the
      // centered moments EXACT in HUGEINT (mirrors the engine's exact
      // DECIMAL(38,0) — DuckDB would silently fall back to DOUBLE on a
      // >38-width decimal product); slope/intercept via sratio6 (exact
      // integer 6-dp rounding), r² via det6 on the identical double chain
      s"""WITH li AS (
        |  SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS x,
        |    CAST(ROUND(l_extendedprice*100) AS BIGINT) AS y
        |  FROM lineitem),
        |m AS (
        |  SELECT l_returnflag,
        |    CAST(COUNT(*) AS HUGEINT) AS n,
        |    CAST(SUM(CAST(x AS DECIMAL(38,0))) AS HUGEINT) AS sx,
        |    CAST(SUM(CAST(y AS DECIMAL(38,0))) AS HUGEINT) AS sy,
        |    CAST(SUM(CAST(x*x AS DECIMAL(38,0))) AS HUGEINT) AS sxx,
        |    CAST(SUM(CAST(x*y AS DECIMAL(38,0))) AS HUGEINT) AS sxy,
        |    CAST(SUM(CAST(y*y AS DECIMAL(38,0))) AS HUGEINT) AS syy
        |  FROM li GROUP BY 1),
        |c AS (
        |  SELECT l_returnflag, n, sx, sy,
        |    (n*sxx - sx*sx) AS sxxc,
        |    (n*sxy - sx*sy) AS sxyc,
        |    (n*syy - sy*sy) AS syyc
        |  FROM m)
        |SELECT l_returnflag, CAST(n AS BIGINT) AS n_rows,
        |  ${sratio6Sql("sxyc", "sxxc")} AS slope_r,
        |  ${sratio6Sql("sy*sxxc - sxyc*sx", "n*sxxc")} AS intercept_r,
        |  ${det6Sql("CAST(sxyc AS DOUBLE) * CAST(sxyc AS DOUBLE) / " +
                     "(CAST(sxxc AS DOUBLE) * CAST(syyc AS DOUBLE))")} AS r2_r
        |FROM c ORDER BY l_returnflag""".stripMargin)),

    // Two-regressor OLS (y = price cents ~ quantity + discount cents)
    // via the closed-form 2×2 normal-equation solve over the same exact
    // decimal moments: centered cross-moments stay EXACT integers until
    // one determinant division. R² = (b1·S1y + b2·S2y)/Syy — the
    // explained-variance identity, float only at the end.
    Query("q_ols_multi", (s, d) => {
      val li = t(s, d, "lineitem").select(
        col("l_quantity").cast("long").as("x1"),
        cents(col("l_discount")).as("x2"),
        cents(col("l_extendedprice")).as("y"))
      val m = li.agg(
        count(lit(1)).cast("decimal(38,0)").as("n"),
        sum(dec(col("x1"))).as("s1"), sum(dec(col("x2"))).as("s2"),
        sum(dec(col("y"))).as("sy"),
        sum(dec(col("x1") * col("x1"))).as("s11"),
        sum(dec(col("x1") * col("x2"))).as("s12"),
        sum(dec(col("x2") * col("x2"))).as("s22"),
        sum(dec(col("x1") * col("y"))).as("s1y"),
        sum(dec(col("x2") * col("y"))).as("s2y"),
        sum(dec(col("y") * col("y"))).as("syy"))
      val c11 = (col("n") * col("s11") - col("s1") * col("s1")).cast("double")
      val c12 = (col("n") * col("s12") - col("s1") * col("s2")).cast("double")
      val c22 = (col("n") * col("s22") - col("s2") * col("s2")).cast("double")
      val c1y = (col("n") * col("s1y") - col("s1") * col("sy")).cast("double")
      val c2y = (col("n") * col("s2y") - col("s2") * col("sy")).cast("double")
      val cyy = (col("n") * col("syy") - col("sy") * col("sy")).cast("double")
      val det = c11 * c22 - c12 * c12
      val b1 = (c22 * c1y - c12 * c2y) / det
      val b2 = (c11 * c2y - c12 * c1y) / det
      // det6 (not library round): the centered-moment products would
      // overflow DECIMAL(38,0)·10⁶ exactness, but the double chain is
      // op-order-identical to the oracle, so det6's IEEE-only rounding
      // is bit-reproducible cross-engine (ExactRatio scaladoc).
      m.select(col("n").cast("long").as("n_rows"),
        det6(b1).as("b1_r"), det6(b2).as("b2_r"),
        det6((col("sy").cast("double") - b1 * col("s1").cast("double") -
          b2 * col("s2").cast("double")) / col("n").cast("double"))
          .as("intercept_r"),
        det6((b1 * c1y + b2 * c2y) / cyy).as("r2_r"))
    }, Sql(
      s"""WITH li AS (
        |  SELECT CAST(l_quantity AS BIGINT) AS x1,
        |    CAST(ROUND(l_discount*100) AS BIGINT) AS x2,
        |    CAST(ROUND(l_extendedprice*100) AS BIGINT) AS y
        |  FROM lineitem),
        |m AS (
        |  SELECT CAST(COUNT(*) AS HUGEINT) AS n,
        |    CAST(SUM(CAST(x1 AS DECIMAL(38,0))) AS HUGEINT) AS s1,
        |    CAST(SUM(CAST(x2 AS DECIMAL(38,0))) AS HUGEINT) AS s2,
        |    CAST(SUM(CAST(y AS DECIMAL(38,0))) AS HUGEINT) AS sy,
        |    CAST(SUM(CAST(x1*x1 AS DECIMAL(38,0))) AS HUGEINT) AS s11,
        |    CAST(SUM(CAST(x1*x2 AS DECIMAL(38,0))) AS HUGEINT) AS s12,
        |    CAST(SUM(CAST(x2*x2 AS DECIMAL(38,0))) AS HUGEINT) AS s22,
        |    CAST(SUM(CAST(x1*y AS DECIMAL(38,0))) AS HUGEINT) AS s1y,
        |    CAST(SUM(CAST(x2*y AS DECIMAL(38,0))) AS HUGEINT) AS s2y,
        |    CAST(SUM(CAST(y*y AS DECIMAL(38,0))) AS HUGEINT) AS syy
        |  FROM li),
        |c AS (
        |  SELECT n, s1, s2, sy,
        |    CAST(n*s11 - s1*s1 AS DOUBLE) AS c11,
        |    CAST(n*s12 - s1*s2 AS DOUBLE) AS c12,
        |    CAST(n*s22 - s2*s2 AS DOUBLE) AS c22,
        |    CAST(n*s1y - s1*sy AS DOUBLE) AS c1y,
        |    CAST(n*s2y - s2*sy AS DOUBLE) AS c2y,
        |    CAST(n*syy - sy*sy AS DOUBLE) AS cyy
        |  FROM m),
        |b AS (
        |  SELECT n, s1, s2, sy, c1y, c2y, cyy,
        |    (c22 * c1y - c12 * c2y) / (c11 * c22 - c12 * c12) AS b1,
        |    (c11 * c2y - c12 * c1y) / (c11 * c22 - c12 * c12) AS b2
        |  FROM c)
        |SELECT CAST(n AS BIGINT) AS n_rows,
        |  ${det6Sql("b1")} AS b1_r, ${det6Sql("b2")} AS b2_r,
        |  ${det6Sql("(CAST(sy AS DOUBLE) - b1 * CAST(s1 AS DOUBLE) " +
                     "- b2 * CAST(s2 AS DOUBLE)) / CAST(n AS DOUBLE)")}
        |    AS intercept_r,
        |  ${det6Sql("(b1 * c1y + b2 * c2y) / cyy")} AS r2_r
        |FROM b""".stripMargin)),

    // Pearson chi-square independence test (source × lang over the
    // documents table — "is the language mix the same across sources?").
    // Contingency cells are ONE count shuffle bounded by the VALUE
    // DOMAIN (|sources|·|langs|), marginals broadcast back; each cell's
    // term keeps an exact DECIMAL numerator (O·n − r·c)² and floats only
    // at the per-cell division, and the final sum folds the ≤domain
    // cells in SORTED order (aggregate HOF) so the statistic is
    // partition-count-independent bit-identical.
    Query("q_chi2_independence", (s, d) =>
      chi2Agg(s, d).select(det6(col("chi2")).as("chi2_r"),
        ((col("nr") - 1) * (col("nc") - 1)).as("dof"), col("n_total")),
      Sql(
      // per-cell exact DECIMAL numerator, float per-cell division; the
      // oracle's single-node SUM vs the engine's sorted fold differ only
      // below the 6dp contract
      s"""WITH $chi2TermCtes
        |SELECT ${det6Sql("SUM(term)")} AS chi2_r,
        |  (COUNT(DISTINCT source) - 1) * (COUNT(DISTINCT lang) - 1) AS dof,
        |  CAST(SUM(o) AS BIGINT) AS n_total
        |FROM terms""".stripMargin)),

    // Cramér's V effect size from the SAME chi² chain ([[chi2Agg]] —
    // one definition, the statistic and its normalization can't drift):
    // V = √(χ² / (n·(min(r,c) − 1))), the one extra double chain over
    // exact integers, det6.
    Query("q_cramers_v", (s, d) =>
      chi2Agg(s, d).select(
        det6(col("chi2")).as("chi2_r"), col("n_total"),
        col("nr"), col("nc"),
        det6(sqrt(col("chi2") /
          (col("n_total") * (least(col("nr"), col("nc")) - 1))
            .cast("double"))).as("v_r")),
      Sql(
      // the chi2 chain + the extra normalization, same op order
      s"""WITH $chi2TermCtes
        |SELECT ${det6Sql("SUM(term)")} AS chi2_r,
        |  CAST(SUM(o) AS BIGINT) AS n_total,
        |  COUNT(DISTINCT source) AS nr, COUNT(DISTINCT lang) AS nc,
        |  ${det6Sql("sqrt(SUM(term) / CAST(SUM(o) * " +
             "(LEAST(COUNT(DISTINCT source), COUNT(DISTINCT lang)) - 1) " +
             "AS DOUBLE))")} AS v_r
        |FROM terms""".stripMargin)),

    // Per-cell Pearson residuals for the source×lang contingency (the
    // drill-down q_chi2_independence points at: WHICH cells drive the
    // statistic): expected count as an EXACT ratio6 of integer
    // marginals, residual (O−E)/√E computed as (O·n − r·c)/√(r·c·n) —
    // exact DECIMAL numerator, det6 on the mirrored float tail. Same
    // domain-bounded one-shuffle shape as the test itself.
    Query("q_chi2_residuals", (s, d) => {
      chi2Cells(s, d)
        .select(col("source"), col("lang"), col("o"),
          ratio6(dec(col("rtot")) * dec(col("ctot")), col("n_total"))
            .as("expected_r"),
          det6((dec(col("o")) * dec(col("n_total")) -
            dec(col("rtot")) * dec(col("ctot"))).cast("double") /
            sqrt((dec(col("rtot")) * dec(col("ctot"))).cast("double") *
              col("n_total").cast("double"))).as("resid_r"))
        .orderBy(col("source"), col("lang"))
    }, Sql(
      // exact HUGEINT/DECIMAL numerators; det6 on the mirrored float tail
      s"""WITH $chi2CellCtes
        |SELECT c.source, c.lang, c.o,
        |  ${ratio6Sql("CAST(r.rtot AS HUGEINT) * cl.ctot", "t.n_total")}
        |    AS expected_r,
        |  ${det6Sql(
             "CAST(CAST(c.o AS DECIMAL(38,0)) * CAST(t.n_total AS DECIMAL(38,0)) " +
               "- CAST(r.rtot AS DECIMAL(38,0)) * CAST(cl.ctot AS DECIMAL(38,0)) AS DOUBLE) / " +
               "sqrt(CAST(CAST(r.rtot AS DECIMAL(38,0)) * CAST(cl.ctot AS DECIMAL(38,0)) AS DOUBLE) " +
               "* CAST(t.n_total AS DOUBLE))")} AS resid_r
        |FROM cells c JOIN r USING (source) JOIN cl USING (lang), tt t
        |ORDER BY c.source, c.lang""".stripMargin)),

    // Degree distribution of the co-purchase graph (the first thing a
    // graph audit plots): per-degree node counts off the shared edge
    // set. Exact integers; one degree aggregate + one domain-bounded
    // histogram shuffle.
    Query("q_degree_dist", (s, d) => {
      val e = coPurchaseEdges(s, d)
      val sym = e.select(col("u").as("a"))
        .unionAll(e.select(col("v").as("a")))
      sym.groupBy(col("a")).agg(count(lit(1)).as("deg"))
        .groupBy(col("deg")).agg(count(lit(1)).as("n_nodes"))
        .orderBy(col("deg"))
    }, Sql(
      s"""WITH $coPurchaseCte,
         |sym AS (SELECT u AS a FROM edges UNION ALL SELECT v FROM edges),
         |deg AS (SELECT a, COUNT(*) AS deg FROM sym GROUP BY a)
         |SELECT deg, COUNT(*) AS n_nodes
         |FROM deg GROUP BY deg ORDER BY deg""".stripMargin)),

    // Per-node local clustering coefficient, top-20 (the community-
    // tightness ranking next to q_triangles' global census): triangles
    // through v = edges among v's neighbors, from the SAME capped wedge
    // expansion as linkScores (cap 64, oracle-mirrored; true degrees in
    // the denominator; fixture degrees sit far below the cap so the
    // coefficient is exact there). lcc = 2T/(d(d−1)) — one division on
    // an exact integer pair; cutoff ordered on the ROUNDED value + node.
    Query("q_lcc_topk", (s, d) => {
      val e = coPurchaseEdges(s, d)
      val (deg, wedges) = cappedWedges(e)
      val tri = wedges
        .join(e.select(col("u").as("eu"), col("v").as("ev")),
          col("u") === col("eu") && col("w") === col("ev"), "left_semi")
        .groupBy(col("mid")).agg(count(lit(1)).as("t_v"))
      deg.filter(col("deg") >= 3)
        .join(tri, col("a") === col("mid"), "left")
        .select(col("a").as("node"), col("deg"),
          coalesce(col("t_v"), lit(0L)).as("t_v"))
        .withColumn("lcc_r",
          ratio6(col("t_v") * 2, col("deg") * (col("deg") - 1)))
        .orderBy(col("lcc_r").desc, col("node")).limit(20)
    }, Sql(
      // the same capped wedge expansion; triangles via EXISTS against the
      // canonical edge set; 2T/(d(d−1)) on exact integers
      s"""WITH $coPurchaseCte,
         |sym AS (SELECT u AS a, v AS b FROM edges
         |        UNION ALL SELECT v AS a, u AS b FROM edges),
         |deg AS (SELECT a, COUNT(*) AS deg FROM sym GROUP BY a),
         |capped_sym AS MATERIALIZED (
         |  SELECT a, b FROM (
         |    SELECT a, b, ROW_NUMBER() OVER (PARTITION BY a ORDER BY b) AS rn
         |    FROM sym) WHERE rn <= 64),
         |wedges AS (
         |  SELECT x.a AS mid, x.b AS u, y.b AS w
         |  FROM capped_sym x JOIN capped_sym y
         |    ON x.a = y.a AND x.b < y.b),
         |tri AS (
         |  SELECT mid, COUNT(*) AS t_v FROM wedges wg
         |  WHERE EXISTS (SELECT 1 FROM edges e
         |                WHERE e.u = wg.u AND e.v = wg.w)
         |  GROUP BY mid)
         |SELECT d.a AS node, d.deg, COALESCE(t.t_v, 0) AS t_v,
         |  ${ratio6Sql("COALESCE(t.t_v, 0) * 2", "d.deg * (d.deg - 1)")}
         |    AS lcc_r
         |FROM deg d LEFT JOIN tri t ON t.mid = d.a
         |WHERE d.deg >= 3
         |ORDER BY lcc_r DESC, node LIMIT 20""".stripMargin)),

    // Gini coefficient of revenue concentration (the Lorenz-curve
    // scalar next to q_abc_classes' banding): G = (2·Σ r·x − (n+1)·Σx)
    // / (n·Σx) over the ascending (revenue, key) total order — ranks
    // from Rank.withGlobalRank (range-partitioned, never a
    // single-partition window), every sum EXACT in DECIMAL(38,0), ONE
    // float at the final division.
    Query("q_gini_revenue", (s, d) => {
      val rev = t(s, d, "lineitem")
        .groupBy(col("l_partkey"))
        .agg(sum(cents(col("l_extendedprice") * (lit(1.0) - col("l_discount"))))
          .as("rev_c"))
      val (ranked, _) = graft.operators.Rank.withGlobalRank(
        rev, "r", col("rev_c"), col("l_partkey"))
      ranked.agg(count(lit(1)).cast("decimal(38,0)").as("n"),
          sum(dec(col("rev_c"))).as("sx"),
          sum(dec(col("r")) * dec(col("rev_c"))).as("srx"))
        .select(col("n").cast("long").as("n_keys"),
          sratio6(lit(2) * col("srx") - (col("n") + 1) * col("sx"),
            col("n") * col("sx")).as("gini_r"))
    }, Sql(
      // ranks via ROW_NUMBER over the same ascending total order; exact
      // decimal sums; one division
      s"""WITH rev AS (
        |  SELECT l_partkey,
        |    CAST(SUM(CAST(ROUND(l_extendedprice*(1.0-l_discount)*100) AS BIGINT)) AS BIGINT)
        |      AS rev_c
        |  FROM lineitem GROUP BY 1),
        |rk AS (
        |  SELECT rev_c,
        |    ROW_NUMBER() OVER (ORDER BY rev_c, l_partkey) AS r
        |  FROM rev),
        |m AS (
        |  SELECT CAST(COUNT(*) AS DECIMAL(38,0)) AS n,
        |    SUM(CAST(rev_c AS DECIMAL(38,0))) AS sx,
        |    SUM(CAST(r AS DECIMAL(38,0)) * CAST(rev_c AS DECIMAL(38,0))) AS srx
        |  FROM rk)
        |SELECT CAST(n AS BIGINT) AS n_keys,
        |  ${sratio6Sql("CAST(2*srx - (n+1)*sx AS HUGEINT)",
                        "CAST(n*sx AS HUGEINT)")} AS gini_r
        |FROM m""".stripMargin)),

    // Exact weighted median price per return flag (weight = quantity):
    // the per-group weighted order statistic WITHOUT a per-group window
    // — ONE range-partitioned running total over the (flag, price, key)
    // total order (Rank.withRunningTotal), per-group start offsets from
    // a bounded ≤|flags| aggregate (min(cum − w) = the cum BEFORE the
    // group), then the first row where 2·cum_in_group ≥ group_total.
    // Every comparison is integer — the median can't flip on a float
    // boundary.
    Query("q_weighted_median", (s, d) => {
      val li = t(s, d, "lineitem").select(col("l_returnflag"),
        cents(col("l_extendedprice")).as("price_c"),
        col("l_quantity").cast("long").as("w"),
        col("l_orderkey"), col("l_linenumber"))
      val (run0, _) = graft.operators.Rank.withRunningTotal(
        li, "cum", "w", col("l_returnflag"), col("price_c"),
        col("l_orderkey"), col("l_linenumber"))
      // pin: the running-total relation is consumed twice (group
      // offsets + the median probe) — one emit pass, two block reads
      val run = run0.localCheckpoint(true)
      val g = run.groupBy(col("l_returnflag"))
        .agg(sum(col("w")).as("w_total"),
          min(col("cum") - col("w")).as("start"))
      run.join(broadcast(g), Seq("l_returnflag"))
        .filter((col("cum") - col("start")) * 2 >= col("w_total"))
        .groupBy(col("l_returnflag"))
        .agg(min(col("price_c")).as("wmedian_c"), min(col("w_total"))
          .as("w_total"))
        .select(col("l_returnflag"), col("w_total"), col("wmedian_c"))
        .orderBy(col("l_returnflag"))
    }, Sql(
      // per-flag cumulative weights (single-node window is fine for the
      // oracle); integer 2·cum ≥ total threshold
      """WITH li AS (
        |  SELECT l_returnflag,
        |    CAST(ROUND(l_extendedprice*100) AS BIGINT) AS price_c,
        |    CAST(l_quantity AS BIGINT) AS w, l_orderkey, l_linenumber
        |  FROM lineitem),
        |run AS (
        |  SELECT l_returnflag, price_c, w,
        |    SUM(w) OVER (PARTITION BY l_returnflag
        |      ORDER BY price_c, l_orderkey, l_linenumber
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumg,
        |    SUM(w) OVER (PARTITION BY l_returnflag) AS tot
        |  FROM li)
        |SELECT l_returnflag, CAST(MIN(tot) AS BIGINT) AS w_total,
        |  MIN(price_c) AS wmedian_c
        |FROM run WHERE 2 * cumg >= tot
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    // ABC / Pareto contribution classes (the 80/20 inventory census:
    // which parts carry 80% / 95% of revenue?): per-key revenue, an
    // EXACT running total over the revenue-descending total order via
    // Rank.withRunningTotal — the scale-safe prefix sum (range sort +
    // per-partition weight sums + broadcast offsets), NEVER the
    // single-partition running-max window the textbook form suggests —
    // and INTEGER threshold comparisons (100·cum ≤ 80·total), so class
    // membership can never flip on a float boundary. One float: the
    // per-class share.
    Query("q_abc_classes", (s, d) => {
      val rev = t(s, d, "lineitem")
        .groupBy(col("l_partkey"))
        .agg(sum(cents(col("l_extendedprice") * (lit(1.0) - col("l_discount"))))
          .as("rev_c"))
      val (run, total) = graft.operators.Rank.withRunningTotal(
        rev, "cum_c", "rev_c", col("rev_c").desc, col("l_partkey"))
      run.withColumn("abc_class",
          when(col("cum_c") * 100 <= lit(total) * 80, "A")
            .when(col("cum_c") * 100 <= lit(total) * 95, "B")
            .otherwise("C"))
        .groupBy(col("abc_class"))
        .agg(count(lit(1)).as("n_parts"), sum(col("rev_c")).as("rev_c"),
          ratio6(sum(col("rev_c")), lit(total)).as("share_r"))
        .orderBy(col("abc_class"))
    }, Sql(
      // the textbook running-sum window IS fine for a single-node oracle;
      // integer thresholds mirror exactly (window SUM is HUGEINT — the
      // comparisons stay integral)
      s"""WITH rev AS (
        |  SELECT l_partkey,
        |    CAST(SUM(CAST(ROUND(l_extendedprice*(1.0-l_discount)*100) AS BIGINT)) AS BIGINT)
        |      AS rev_c
        |  FROM lineitem GROUP BY 1),
        |run AS (
        |  SELECT l_partkey, rev_c,
        |    SUM(rev_c) OVER (ORDER BY rev_c DESC, l_partkey
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_c,
        |    SUM(rev_c) OVER () AS tot
        |  FROM rev),
        |cls AS (
        |  SELECT CASE WHEN 100 * cum_c <= 80 * tot THEN 'A'
        |              WHEN 100 * cum_c <= 95 * tot THEN 'B'
        |              ELSE 'C' END AS abc_class,
        |    rev_c, tot
        |  FROM run)
        |SELECT abc_class, COUNT(*) AS n_parts,
        |  CAST(SUM(rev_c) AS BIGINT) AS rev_c,
        |  ${ratio6Sql("SUM(rev_c)", "MIN(tot)")} AS share_r
        |FROM cls GROUP BY 1 ORDER BY abc_class""".stripMargin)),

    // Truncated closeness/harmonic centrality (multi-seed BFS, radius
    // 3, over the co-purchase graph): per seed the reach set with hop
    // distances, n_reached / sum_dist, and the harmonic sum Σ 1/d kept
    // EXACT as Σ 12/d (d ∈ {1,2,3} → 12,6,4 — integer unit fractions
    // over the common denominator; the one float is the final
    // normalization). Frontier relations are reach-sized; each hop is
    // one shuffle join on the frontier plus ids-only anti-joins against
    // the visited sets; the symmetric edge list is checkpointed once
    // (read by all three hops). Seeds are the 5 smallest node ids —
    // deterministic, no RNG.
    Query("q_closeness", (s, d) => {
      val e = coPurchaseEdges(s, d)
      val sym = e.select(col("u").as("a"), col("v").as("b"))
        .unionAll(e.select(col("v").as("a"), col("u").as("b")))
        .localCheckpoint(true)
      val nodes = sym.select(col("a").as("node")).distinct()
      val seeds = nodes.orderBy(col("node")).limit(5)
        .select(col("node").as("seed"))
      val f1 = sym.join(broadcast(seeds), col("a") === col("seed"))
        .filter(col("b") =!= col("seed"))
        .select(col("seed"), col("b").as("node")).distinct()
      def hop(frontier: DataFrame, visited: Seq[DataFrame]): DataFrame = {
        val raw = frontier.join(sym, col("node") === col("a"))
          .select(col("seed"), col("b").as("nd"))
          .filter(col("nd") =!= col("seed"))
          .select(col("seed"), col("nd").as("node")).distinct()
        visited.foldLeft(raw)((acc, v) =>
          acc.join(v, Seq("seed", "node"), "left_anti")
            .select(col("seed"), col("node")))
      }
      val f2 = hop(f1, Seq(f1))
      val f3 = hop(f2, Seq(f1, f2))
      val allv = f1.withColumn("dist", lit(1L))
        .unionAll(f2.withColumn("dist", lit(2L)))
        .unionAll(f3.withColumn("dist", lit(3L)))
      val ng = nodes.agg(count(lit(1)).as("n_nodes"))
      allv.groupBy(col("seed"))
        .agg(count(lit(1)).as("n_reached"), sum(col("dist")).as("sum_dist"),
          sum(expr("12 div dist")).as("harm12"))
        .crossJoin(broadcast(ng))
        .select(col("seed"), col("n_reached"), col("sum_dist"),
          col("harm12"),
          ratio6(col("harm12"), (col("n_nodes") - 1) * 12)
            .as("closeness_r"))
        .orderBy(col("seed"))
    }, Sql(
      // unrolled 3-hop BFS (the khop/kcore MATERIALIZED discipline);
      // harmonic sum exact as Σ 12//d
      s"""WITH $coPurchaseCte,
         |sym AS (SELECT u AS a, v AS b FROM edges
         |        UNION ALL SELECT v AS a, u AS b FROM edges),
         |nodes AS (SELECT DISTINCT a AS node FROM sym),
         |ng AS (SELECT COUNT(*) AS n_nodes FROM nodes),
         |seeds AS (SELECT node AS seed FROM nodes ORDER BY node LIMIT 5),
         |f1 AS MATERIALIZED (
         |  SELECT s.seed, e.b AS node FROM seeds s JOIN sym e ON e.a = s.seed
         |  WHERE e.b <> s.seed GROUP BY 1, 2),
         |f2 AS MATERIALIZED (
         |  SELECT f.seed, e.b AS node FROM f1 f JOIN sym e ON e.a = f.node
         |  WHERE e.b <> f.seed
         |    AND NOT EXISTS (SELECT 1 FROM f1 p
         |                    WHERE p.seed = f.seed AND p.node = e.b)
         |  GROUP BY 1, 2),
         |f3 AS MATERIALIZED (
         |  SELECT f.seed, e.b AS node FROM f2 f JOIN sym e ON e.a = f.node
         |  WHERE e.b <> f.seed
         |    AND NOT EXISTS (SELECT 1 FROM f1 p
         |                    WHERE p.seed = f.seed AND p.node = e.b)
         |    AND NOT EXISTS (SELECT 1 FROM f2 p
         |                    WHERE p.seed = f.seed AND p.node = e.b)
         |  GROUP BY 1, 2),
         |allv AS (
         |  SELECT seed, node, CAST(1 AS BIGINT) AS dist FROM f1
         |  UNION ALL SELECT seed, node, 2 FROM f2
         |  UNION ALL SELECT seed, node, 3 FROM f3)
         |SELECT a.seed, COUNT(*) AS n_reached,
         |  CAST(SUM(dist) AS BIGINT) AS sum_dist,
         |  CAST(SUM(12 // dist) AS BIGINT) AS harm12,
         |  ${ratio6Sql("SUM(12 // dist)", "(g.n_nodes - 1) * 12")}
         |    AS closeness_r
         |FROM allv a, ng g GROUP BY a.seed, g.n_nodes
         |ORDER BY a.seed""".stripMargin)),

    // One-way ANOVA F (does mean document length differ across
    // sources?): the variance decomposition SSB/SSW from the SAME exact
    // decimal moments as q_ols_fit — per-group (n_g, S_g) plus one
    // global Σx², all DECIMAL(38,0). The only floats are the per-group
    // S_g²/n_g terms (folded in SORTED group order — the q_chi2
    // discipline: partition-count-independent) and the final F ratio.
    Query("q_anova_f", (s, d) => {
      val x = Tables.documents(s, d)
        .select(col("source"), col("n_chars").as("x"))
      val g = x.groupBy(col("source")).agg(
        count(lit(1)).cast("decimal(38,0)").as("n_g"),
        sum(dec(col("x"))).as("s_g"))
      val tot = x.agg(count(lit(1)).cast("decimal(38,0)").as("n"),
        sum(dec(col("x"))).as("sx"),
        sum(dec(col("x") * col("x"))).as("sxx"))
      val folded = g.select(col("source"),
          (col("s_g").cast("double") * col("s_g").cast("double") /
            col("n_g").cast("double")).as("t_g"))
        .agg(count(lit(1)).as("k_groups"),
          aggregate(sort_array(collect_list(struct(col("source"),
            col("t_g")))), lit(0.0),
            (acc, e) => acc + e.getField("t_g")).as("sum_t"))
      folded.crossJoin(broadcast(tot))
        .select(col("k_groups"), col("n").cast("long").as("n_total"),
          det6(col("sum_t") - col("sx").cast("double") *
            col("sx").cast("double") / col("n").cast("double"))
            .as("ssb_r"),
          det6(col("sxx").cast("double") - col("sum_t")).as("ssw_r"),
          det6(((col("sum_t") - col("sx").cast("double") *
            col("sx").cast("double") / col("n").cast("double")) /
            (col("k_groups") - 1).cast("double")) /
            ((col("sxx").cast("double") - col("sum_t")) /
              (col("n").cast("double") - col("k_groups").cast("double"))))
            .as("f_r"))
    }, Sql(
      // exact decimal moments; floats only in the per-group terms and the
      // final F ratio, op order mirrored
      s"""WITH x AS (SELECT source, n_chars AS x FROM documents),
        |g AS (
        |  SELECT source, CAST(COUNT(*) AS DECIMAL(38,0)) AS n_g,
        |    SUM(CAST(x AS DECIMAL(38,0))) AS s_g
        |  FROM x GROUP BY 1),
        |tt AS (
        |  SELECT CAST(COUNT(*) AS DECIMAL(38,0)) AS n,
        |    SUM(CAST(x AS DECIMAL(38,0))) AS sx,
        |    SUM(CAST(x*x AS DECIMAL(38,0))) AS sxx
        |  FROM x),
        |f AS (
        |  SELECT COUNT(*) AS k_groups,
        |    SUM(CAST(s_g AS DOUBLE) * CAST(s_g AS DOUBLE)
        |      / CAST(n_g AS DOUBLE)) AS sum_t
        |  FROM g)
        |SELECT k_groups, CAST(n AS BIGINT) AS n_total,
        |  ${det6Sql("sum_t - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) " +
                     "/ CAST(n AS DOUBLE)")} AS ssb_r,
        |  ${det6Sql("CAST(sxx AS DOUBLE) - sum_t")} AS ssw_r,
        |  ${det6Sql("((sum_t - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) " +
                     "/ CAST(n AS DOUBLE)) / CAST(k_groups - 1 AS DOUBLE)) / " +
                     "((CAST(sxx AS DOUBLE) - sum_t) / " +
                     "(CAST(n AS DOUBLE) - CAST(k_groups AS DOUBLE)))")} AS f_r
        |FROM f, tt""".stripMargin)),

    // Categorical diversity report (Shannon entropy + Gini impurity +
    // distinct count for the four categorical columns a mixing/audit
    // job profiles): each column is ONE domain-bounded count shuffle;
    // probabilities and the −Σp·ln(p) / Σp² sums fold the ≤domain
    // cells in sorted order. One ln per cell.
    Query("q_entropy_report", (s, d) => {
      def ent(df: DataFrame, c: String, label: String): DataFrame = {
        val counts = df.groupBy(col(c).as("v")).agg(count(lit(1)).as("n"))
        val tot = counts.agg(sum(col("n")).as("nt"))
        counts.crossJoin(broadcast(tot))
          .select(col("v"), col("n"), col("nt"),
            (col("n").cast("double") / col("nt").cast("double")).as("p"))
          .agg(count(lit(1)).as("n_distinct"), min(col("nt")).as("n_total"),
            aggregate(sort_array(collect_list(struct(col("v"), col("p")))),
              lit(0.0),
              (acc, e) => acc - e.getField("p") * log(e.getField("p")))
              .as("h"),
            aggregate(sort_array(collect_list(struct(col("v"), col("p")))),
              lit(0.0),
              (acc, e) => acc + e.getField("p") * e.getField("p"))
              .as("p2"))
          .select(lit(label).as("column_name"), col("n_distinct"),
            col("n_total"), det6(col("h")).as("entropy_r"),
            det6(lit(1.0) - col("p2")).as("gini_r"))
      }
      ent(Tables.documents(s, d), "lang", "documents.lang")
        .unionAll(ent(Tables.documents(s, d), "source", "documents.source"))
        .unionAll(ent(Tables.events(s, d), "event_type", "events.event_type"))
        .unionAll(ent(t(s, d, "orders"), "o_orderpriority",
          "orders.o_orderpriority"))
        .orderBy(col("column_name"))
    }, Sql(entropyOracle)),

    // Benford first-digit audit (the fraud/synthetic-data smell test
    // over order totals): leading digit of the cents value vs the
    // log10(1+1/d) expectation. Digit extraction is STRING-based
    // (first char of the long's decimal text — identical cross-engine;
    // no float log10 of the value itself), counts are exact, and the
    // two rounded reporting floats are one division and one ln ratio.
    Query("q_benford", (s, d) => {
      val digits = t(s, d, "orders")
        .select(substring(cents(col("o_totalprice")).cast("string"), 1, 1)
          .cast("long").as("digit"))
        .groupBy(col("digit")).agg(count(lit(1)).as("n_obs"))
      val tot = digits.agg(sum(col("n_obs")).as("nt"))
      digits.crossJoin(broadcast(tot))
        .select(col("digit"), col("n_obs"),
          ratio6(col("n_obs"), col("nt")).as("freq_r"),
          det6(log(lit(1.0) + lit(1.0) / col("digit").cast("double")) /
            log(lit(10.0))).as("exp_r"))
        .orderBy(col("digit"))
    }, Sql(
      // string-based digit extraction; exact counts; ln-ratio expectation
      s"""WITH dg AS (
        |  SELECT CAST(substr(CAST(CAST(ROUND(o_totalprice*100) AS BIGINT)
        |    AS VARCHAR), 1, 1) AS BIGINT) AS digit,
        |    COUNT(*) AS n_obs
        |  FROM orders GROUP BY 1),
        |tt AS (SELECT CAST(SUM(n_obs) AS BIGINT) AS nt FROM dg)
        |SELECT digit, n_obs,
        |  ${ratio6Sql("n_obs", "nt")} AS freq_r,
        |  ${det6Sql("ln(1.0 + 1.0 / CAST(digit AS DOUBLE)) / ln(10.0)")} AS exp_r
        |FROM dg, tt ORDER BY digit""".stripMargin)),

    // Two-sample Kolmogorov-Smirnov D (src0 vs src1 n_chars
    // distributions): EXACT end-to-end — per distinct value the cumulative
    // counts are integers, so D's numerator max|F1·n2 − F2·n1| is an exact
    // DECIMAL(38,0) integer, and the ratio is ExactRatio.ratio6 (integer
    // round-half-up, then one IEEE-exact double division) — the r13
    // round(double) driver seam is gone; no engine-version-dependent
    // ROUND remains. The cumulative window is partitionless BY DESIGN: its
    // input is first aggregated to the value DOMAIN (distinct n_chars),
    // the q_col_histogram/q_concurrency bounded-domain discipline, so
    // the single task sorts |domain| rows, not |rows|.
    Query("q_ks_two_sample", (s, d) => {
      val dd = Tables.documents(s, d)
        .filter(col("source").isin("src0", "src1"))
        .select(col("source"), col("n_chars"))
      val cells = dd.groupBy(col("n_chars")).agg(
        sum(when(col("source") === "src0", 1L).otherwise(0L)).as("c1"),
        sum(when(col("source") === "src1", 1L).otherwise(0L)).as("c2"))
      val wcum = Window.orderBy(col("n_chars"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cum = cells.select(col("n_chars"),
        sum(col("c1")).over(wcum).as("f1"),
        sum(col("c2")).over(wcum).as("f2"))
      val tot = dd.agg(
        sum(when(col("source") === "src0", 1L).otherwise(0L)).as("n1"),
        sum(when(col("source") === "src1", 1L).otherwise(0L)).as("n2"))
      cum.crossJoin(broadcast(tot))
        .select(col("n1"), col("n2"),
          abs(dec(col("f1")) * dec(col("n2")) -
            dec(col("f2")) * dec(col("n1"))).as("dnum"))
        .groupBy(col("n1"), col("n2"))
        .agg(max(col("dnum")).as("d_num"))
        // Output contract: BIGINT, never DECIMAL — the driver renders
        // Spark decimal(38,0) and DuckDB DECIMAL/HUGEINT differently
        // (r12 q_gopher_gate, r14 red rows). d_num = max|f1·n2 − f2·n1|
        // ≤ n1·n2 < 2^63 up to ~3·10^9 rows/side; the decimal arithmetic
        // upstream stays exact, only the OUTPUT column narrows —
        // guardedLong fails loudly past the bound (DuckDB CAST parity).
        .select(col("n1"), col("n2"),
          guardedLong(col("d_num"), "q_ks d_num").as("d_num"),
          ratio6(col("d_num"),
            col("n1").cast("decimal(38,0)") * col("n2").cast("decimal(38,0)"))
            .as("d_r"))
    }, Sql(
      // exact integer D numerator over the value domain; exact ratio6 tail
      s"""WITH dd AS (
        |  SELECT source, n_chars FROM documents
        |  WHERE source IN ('src0', 'src1')),
        |cells AS (
        |  SELECT n_chars,
        |    CAST(SUM(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) AS BIGINT) AS c1,
        |    CAST(SUM(CASE WHEN source = 'src1' THEN 1 ELSE 0 END) AS BIGINT) AS c2
        |  FROM dd GROUP BY 1),
        |cum AS (
        |  SELECT n_chars,
        |    SUM(c1) OVER (ORDER BY n_chars
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS f1,
        |    SUM(c2) OVER (ORDER BY n_chars
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS f2
        |  FROM cells),
        |tot AS (
        |  SELECT
        |    CAST(SUM(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) AS BIGINT) AS n1,
        |    CAST(SUM(CASE WHEN source = 'src1' THEN 1 ELSE 0 END) AS BIGINT) AS n2
        |  FROM dd),
        |agg AS (
        |  SELECT n1, n2,
        |    MAX(CAST(abs(CAST(f1 AS DECIMAL(38,0)) * CAST(n2 AS DECIMAL(38,0))
        |      - CAST(f2 AS DECIMAL(38,0)) * CAST(n1 AS DECIMAL(38,0)))
        |      AS DECIMAL(38,0))) AS d_num
        |  FROM cum, tot GROUP BY n1, n2)
        |SELECT n1, n2, CAST(d_num AS BIGINT) AS d_num,
        |  ${ratio6Sql("d_num", "CAST(n1 AS HUGEINT) * CAST(n2 AS HUGEINT)")} AS d_r
        |FROM agg""".stripMargin)),

    // Mann–Whitney rank-sum test (the nonparametric twin of q_ks: does
    // l_quantity differ between returnflags A and R?) with EXACT
    // tie handling on the bounded 50-value quantity domain: per-value
    // cells, one domain-bounded cumulative window, and the tied-rank
    // identity 2·avgrank = 2·cum_before + m + 1 keeps DOUBLED rank sums
    // in exact DECIMAL — 2U₁ and the tie term Σ(m³−m) are exact
    // integers at any scale. The normal approximation (tie-corrected
    // variance) is the one double chain, mirrored op for op, det6.
    Query("q_mann_whitney", (s, d) => {
      val li = t(s, d, "lineitem")
        .filter(col("l_returnflag").isin("A", "R"))
        .select(col("l_returnflag").as("g"),
          col("l_quantity").cast("long").as("x"))
      val cells = li.groupBy(col("x")).agg(
        sum(when(col("g") === "A", 1L).otherwise(0L)).as("m1"),
        count(lit(1)).as("m"))
      val wcum = Window.orderBy(col("x"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val ranked = cells
        .withColumn("cb", coalesce(sum(col("m")).over(wcum), lit(0L)))
      val agg0 = ranked.agg(
        sum(dec(col("m1"))).as("n1"),
        sum(dec(col("m") - col("m1"))).as("n2"),
        sum(dec(col("m1")) * dec(col("cb") * 2 + col("m") + 1))
          .as("r1_x2"),
        sum(dec(col("m")) * dec(col("m")) * dec(col("m")) - dec(col("m")))
          .as("t_ties"))
      val u1x2 = (col("r1_x2") - col("n1") * (col("n1") + 1)).as("u1_x2")
      val base = agg0.select(col("n1"), col("n2"), u1x2, col("t_ties"))
      val n1d = col("n1").cast("double")
      val n2d = col("n2").cast("double")
      val nd = (col("n1") + col("n2")).cast("double")
      val du1 = col("u1_x2").cast("double") / 2.0
      val mu = (n1d * n2d) / 2.0
      val vr = ((n1d * n2d) / 12.0) *
        ((nd + 1.0) - col("t_ties").cast("double") / (nd * (nd - 1.0)))
      // Output contract: BIGINT, never DECIMAL (same seam as q_ks d_num).
      // 2U1 ≤ 2·n1·n2 and Σ(m³−m) ≤ n³ — both < 2^63 at every driver SF,
      // but t_ties crosses 2^63 near ~2.8·10⁷ A/R rows (≈ lineitem sf10)
      // on the uniform 50-value domain — guardedLong turns Spark's
      // silent non-ANSI NULL into the same loud failure DuckDB's CAST
      // raises (ADVICE r15). DECIMAL arithmetic upstream stays exact.
      base.select(col("n1").cast("long").as("n1"),
        col("n2").cast("long").as("n2"),
        guardedLong(col("u1_x2"), "q_mann_whitney u1_x2").as("u1_x2"),
        guardedLong(col("t_ties"), "q_mann_whitney t_ties").as("t_ties"),
        det6((du1 - mu) / sqrt(vr)).as("z_r"))
    }, Sql(
      // the same tied-rank identity in HUGEINT; the z chain is the
      // engine's exact op order (left-assoc products, /2.0 and /12.0
      // literal divisions)
      {
      val du1 = "(CAST(u1_x2 AS DOUBLE) / 2.0)"
      val n1d = "CAST(n1 AS DOUBLE)"
      val n2d = "CAST(n2 AS DOUBLE)"
      val nd = "CAST(n1 + n2 AS DOUBLE)"
      val mu = s"(($n1d * $n2d) / 2.0)"
      val vr = s"((($n1d * $n2d) / 12.0) * (($nd + 1.0) - " +
        s"(CAST(t_ties AS DOUBLE) / ($nd * ($nd - 1.0)))))"
      s"""WITH li AS (
        |  SELECT l_returnflag AS g, CAST(l_quantity AS BIGINT) AS x
        |  FROM lineitem WHERE l_returnflag IN ('A', 'R')),
        |cells AS (
        |  SELECT x,
        |    CAST(SUM(CASE WHEN g = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS m1,
        |    CAST(COUNT(*) AS BIGINT) AS m
        |  FROM li GROUP BY 1),
        |ranked AS (
        |  SELECT x, m1, m,
        |    CAST(COALESCE(SUM(m) OVER (ORDER BY x
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS cb
        |  FROM cells),
        |agg AS (
        |  SELECT
        |    CAST(SUM(CAST(m1 AS HUGEINT)) AS DECIMAL(38,0)) AS n1,
        |    CAST(SUM(CAST(m - m1 AS HUGEINT)) AS DECIMAL(38,0)) AS n2,
        |    CAST(SUM(CAST(m1 AS HUGEINT) *
        |      CAST(cb * 2 + m + 1 AS HUGEINT)) AS DECIMAL(38,0)) AS r1_x2,
        |    CAST(SUM(CAST(m AS HUGEINT) * CAST(m AS HUGEINT) *
        |      CAST(m AS HUGEINT) - CAST(m AS HUGEINT))
        |      AS DECIMAL(38,0)) AS t_ties
        |  FROM ranked),
        |base AS (
        |  SELECT n1, n2,
        |    CAST(r1_x2 - n1 * (n1 + 1) AS DECIMAL(38,0)) AS u1_x2, t_ties
        |  FROM agg)
        |SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
        |  CAST(u1_x2 AS BIGINT) AS u1_x2, CAST(t_ties AS BIGINT) AS t_ties,
        |  ${det6Sql(s"(($du1 - $mu) / sqrt($vr))")} AS z_r
        |FROM base""".stripMargin
    })),

    // Edit-distance (Levenshtein ≤ 3) fuzzy self-join over distinct part
    // names — the classic-DP twin of the q_fuzzy_jw family, routed
    // through the SAME capped blockedPartPairs relation as its siblings
    // (maxBlock=1000 + overflow star-attach — block keys have a bounded
    // ~92-word domain, so uncapped in-block expansion grows O(n²) with
    // data; the cap is what keeps the family scale-safe). The
    // |len(a)−len(b)| ≤ 3 band is a LOSSLESS Levenshtein lower bound
    // applied as a post-filter on the capped candidates. Distances are
    // exact integers on both engines (both implement the textbook DP),
    // so the pair relation hash-matches with no rounding contract.
    Query("q_fuzzy_edit", (s, d) => {
      blockedPartPairs(s, d)
        .filter(abs(length(col("a")) - length(col("b"))) <= 3)
        .withColumn("dist", levenshtein(col("a"), col("b")).cast("long"))
        .filter(col("dist") <= 3)
        .select(col("a").as("name_a"), col("b").as("name_b"), col("dist"))
        .orderBy(col("name_a"), col("name_b"))
    }, Sql(
      // the same capped blocked-candidate CTE as q_fuzzy_parts/q_fuzzy_jw
      // (rn<=1000 + overflow star-attach), length band as post-filter;
      // both engines' levenshtein is the textbook DP — exact integers
      s"""WITH $partBlockCtes, cand AS (
        |  SELECT a.p_name AS a, b.p_name AS b
        |  FROM r a JOIN r b ON a.block = b.block AND a.p_name < b.p_name
        |  WHERE a.rn <= 1000 AND b.rn <= 1000
        |  UNION ALL
        |  SELECT m.p_name AS a, o.p_name AS b
        |  FROM r o JOIN r m ON o.block = m.block AND m.rn = 1
        |  WHERE o.rn > 1000
        |)
        |SELECT a AS name_a, b AS name_b,
        |  CAST(levenshtein(a, b) AS BIGINT) AS dist
        |FROM cand
        |WHERE abs(len(a) - len(b)) <= 3 AND levenshtein(a, b) <= 3
        |ORDER BY name_a, name_b""".stripMargin)),

    // Deterministic per-group mode (most frequent value, ties broken to
    // the SMALLEST value — the cross-engine-stable convention Spark's
    // own mode() and DuckDB's mode() both leave unspecified): modal
    // nation per market segment from ONE domain-bounded count aggregate
    // + a per-group row_number. The imputation/denoising primitive.
    Query("q_group_mode", (s, d) => {
      val c = t(s, d, "customer")
        .groupBy(col("c_mktsegment"), col("c_nationkey"))
        .agg(count(lit(1)).as("n"))
      val w = Window.partitionBy(col("c_mktsegment"))
        .orderBy(col("n").desc, col("c_nationkey"))
      val tot = t(s, d, "customer").groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_total"))
      c.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .join(tot, Seq("c_mktsegment"))
        .select(col("c_mktsegment"),
          col("c_nationkey").cast("long").as("mode_nation"),
          col("n").as("n_mode"), col("n_total"),
          ratio6(col("n"), col("n_total")).as("share_r"))
        .orderBy(col("c_mktsegment"))
    }, Sql(
      // the same (count desc, value asc) deterministic tie-break
      s"""WITH c AS (
        |  SELECT c_mktsegment, c_nationkey, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM customer GROUP BY 1, 2),
        |tot AS (
        |  SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n_total
        |  FROM customer GROUP BY 1),
        |r AS (
        |  SELECT c_mktsegment, c_nationkey, n,
        |    ROW_NUMBER() OVER (PARTITION BY c_mktsegment
        |      ORDER BY n DESC, c_nationkey) AS rn
        |  FROM c)
        |SELECT r.c_mktsegment,
        |  CAST(r.c_nationkey AS BIGINT) AS mode_nation,
        |  r.n AS n_mode, tot.n_total,
        |  ${ratio6Sql("r.n", "tot.n_total")} AS share_r
        |FROM r JOIN tot USING (c_mktsegment)
        |WHERE rn = 1 ORDER BY r.c_mktsegment""".stripMargin)),

    // Week-over-week rank movers (the "movers & shakers" leaderboard
    // delta): brand revenue ranked within each of the LAST TWO full
    // weeks, joined on brand, biggest |Δrank| first. Ranks are
    // row_number over the bounded |brands| domain per week (25 brands —
    // a per-week window over a pre-aggregated relation, not the fact
    // scan); revenue in exact cents; everything integer.
    Query("q_rank_movers", (s, d) => {
      val li = t(s, d, "lineitem")
        .select(col("l_partkey"),
          floor(unix_timestamp(col("l_shipdate")) / 604800).cast("long")
            .as("week"),
          cents(col("l_extendedprice")).as("price_c"))
        .join(broadcast(t(s, d, "part")
          .select(col("p_partkey").as("l_partkey"), col("p_brand"))),
          Seq("l_partkey"))
      val maxW = li.agg(max(col("week")).as("wmax"))
      val weekly = li.crossJoin(broadcast(maxW))
        .filter(col("week") === col("wmax") - 1 ||
          col("week") === col("wmax") - 2)
        .groupBy(col("week"), col("p_brand"))
        .agg(sum(col("price_c")).as("rev_c"))
        .crossJoin(broadcast(maxW))
      val w = Window.partitionBy(col("week"))
        .orderBy(col("rev_c").desc, col("p_brand"))
      val ranked = weekly
        .withColumn("rnk", row_number().over(w).cast("long"))
      val cur = ranked.filter(col("week") === col("wmax") - 1)
        .select(col("p_brand"), col("rev_c").as("rev_cur_c"),
          col("rnk").as("rank_cur"))
      val prev = ranked.filter(col("week") === col("wmax") - 2)
        .select(col("p_brand"), col("rnk").as("rank_prev"))
      cur.join(prev, Seq("p_brand"))
        .select(col("p_brand"), col("rev_cur_c"), col("rank_cur"),
          col("rank_prev"),
          (col("rank_prev") - col("rank_cur")).as("delta"))
        .orderBy(abs(col("delta")).desc, col("p_brand"))
    }, Sql(
      // the same two-week rank join over the bounded brand domain
      """WITH li AS (
        |  SELECT p_brand,
        |    (epoch_us(l_shipdate) // 1000000) // 604800 AS week,
        |    CAST(ROUND(l_extendedprice*100) AS BIGINT) AS price_c
        |  FROM lineitem JOIN part ON p_partkey = l_partkey),
        |mw AS (SELECT MAX(week) AS wmax FROM li),
        |weekly AS (
        |  SELECT week, p_brand, CAST(SUM(price_c) AS BIGINT) AS rev_c
        |  FROM li, mw WHERE week = wmax - 1 OR week = wmax - 2
        |  GROUP BY 1, 2),
        |ranked AS (
        |  SELECT week, p_brand, rev_c,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY week
        |      ORDER BY rev_c DESC, p_brand) AS BIGINT) AS rnk
        |  FROM weekly),
        |cur AS (SELECT p_brand, rev_c AS rev_cur_c, rnk AS rank_cur
        |  FROM ranked, mw WHERE week = wmax - 1),
        |prev AS (SELECT p_brand, rnk AS rank_prev
        |  FROM ranked, mw WHERE week = wmax - 2)
        |SELECT p_brand, rev_cur_c, rank_cur, rank_prev,
        |  rank_prev - rank_cur AS delta
        |FROM cur JOIN prev USING (p_brand)
        |ORDER BY abs(rank_prev - rank_cur) DESC, p_brand""".stripMargin)),

    // Local-peak detection on the daily revenue series (the
    // change-point family's spike lens next to q_cusum_shift's level
    // lens): a peak is a day strictly above both neighbors on the
    // zero-filled day spine AND at least 5/4 of the trailing 7-day
    // mean — the comparison cleared to exact integers
    // (4·7·x > 5·sum7_trailing). Bounded day domain; zero float ops.
    Query("q_peaks", (s, d) => {
      val daily = t(s, d, "orders")
        .groupBy(floor(unix_timestamp(col("o_orderdate")) / 86400)
          .cast("long").as("day"))
        .agg(sum(cents(col("o_totalprice"))).as("x"))
      val bounds = daily.agg(min(col("day")).as("lo"),
        max(col("day")).as("hi"))
      val spine = bounds
        .select(explode(sequence(col("lo"), col("hi"))).as("day"))
        .join(daily, Seq("day"), "left")
        .select(col("day"), coalesce(col("x"), lit(0L)).as("x"))
      val wo = Window.orderBy(col("day"))
      val wt = Window.orderBy(col("day")).rowsBetween(-7, -1)
      spine
        .withColumn("prv", lag(col("x"), 1).over(wo))
        .withColumn("nxt", lead(col("x"), 1).over(wo))
        .withColumn("s7", sum(col("x")).over(wt))
        .withColumn("n7", count(lit(1)).over(wt))
        .filter(col("prv").isNotNull && col("nxt").isNotNull &&
          col("n7") === 7 &&
          col("x") > col("prv") && col("x") > col("nxt") &&
          col("x") * 28 > col("s7") * 5)
        .select(col("day"), col("x"), col("prv"), col("nxt"), col("s7"))
        .orderBy(col("day"))
    }, Sql(
      // the same spine + exact-integer peak predicate
      """WITH daily AS (
        |  SELECT (epoch_us(o_orderdate) // 1000000) // 86400 AS day,
        |    CAST(SUM(CAST(ROUND(o_totalprice*100) AS BIGINT)) AS BIGINT)
        |      AS x
        |  FROM orders GROUP BY 1),
        |b AS (SELECT MIN(day) AS lo, MAX(day) AS hi FROM daily),
        |spine AS (
        |  SELECT gs.day, COALESCE(d.x, 0) AS x
        |  FROM (SELECT UNNEST(range(lo, hi + 1)) AS day FROM b) gs
        |  LEFT JOIN daily d USING (day)),
        |win AS (
        |  SELECT day, x,
        |    LAG(x) OVER (ORDER BY day) AS prv,
        |    LEAD(x) OVER (ORDER BY day) AS nxt,
        |    CAST(SUM(x) OVER (ORDER BY day
        |      ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING) AS BIGINT) AS s7,
        |    COUNT(*) OVER (ORDER BY day
        |      ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING) AS n7
        |  FROM spine)
        |SELECT day, x, prv, nxt, s7
        |FROM win
        |WHERE prv IS NOT NULL AND nxt IS NOT NULL AND n7 = 7
        |  AND x > prv AND x > nxt AND x * 28 > s7 * 5
        |ORDER BY day""".stripMargin)),

    // Share-of-parent hierarchy rollup (the BI drill-down companion to
    // q_rollup's subtotals): revenue per nation with its share WITHIN
    // its region and the region's share of the grand total — every
    // share an exact ratio6 of integer cents; the nation→region
    // dimension spine broadcasts, the two parent levels come from ONE
    // reaggregation chain (never a rescan of the fact side).
    Query("q_share_of_parent", (s, d) => {
      val rev = t(s, d, "orders")
        .join(broadcast(t(s, d, "customer")
          .select(col("c_custkey").as("o_custkey"), col("c_nationkey"))),
          Seq("o_custkey"))
        .groupBy(col("c_nationkey"))
        .agg(sum(cents(col("o_totalprice"))).as("rev_c"))
        .join(broadcast(t(s, d, "nation")
          .select(col("n_nationkey").as("c_nationkey"), col("n_name"),
            col("n_regionkey"))),
          Seq("c_nationkey"))
        .join(broadcast(t(s, d, "region")
          .select(col("r_regionkey").as("n_regionkey"), col("r_name"))),
          Seq("n_regionkey"))
      val byRegion = rev.groupBy(col("r_name"))
        .agg(sum(col("rev_c")).as("region_c"))
      val total = byRegion.agg(sum(col("region_c")).as("total_c"))
      rev.join(broadcast(byRegion), Seq("r_name"))
        .crossJoin(broadcast(total))
        .select(col("r_name"), col("n_name"), col("rev_c"),
          ratio6(col("rev_c"), col("region_c")).as("share_of_region_r"),
          ratio6(col("region_c"), col("total_c")).as("region_share_r"))
        .orderBy(col("r_name"), col("n_name"))
    }, Sql(
      // the same two-level reaggregation; exact cent ratios
      s"""WITH rev AS (
        |  SELECT c_nationkey,
        |    CAST(SUM(CAST(ROUND(o_totalprice*100) AS BIGINT)) AS BIGINT)
        |      AS rev_c
        |  FROM orders JOIN customer ON c_custkey = o_custkey
        |  GROUP BY 1),
        |dim AS (
        |  SELECT n_nationkey, n_name, r_name
        |  FROM nation JOIN region ON r_regionkey = n_regionkey),
        |nat AS (
        |  SELECT r_name, n_name, rev_c
        |  FROM rev JOIN dim ON n_nationkey = c_nationkey),
        |reg AS (SELECT r_name, CAST(SUM(rev_c) AS BIGINT) AS region_c
        |  FROM nat GROUP BY 1),
        |tot AS (SELECT CAST(SUM(region_c) AS BIGINT) AS total_c FROM reg)
        |SELECT n.r_name, n.n_name, n.rev_c,
        |  ${ratio6Sql("n.rev_c", "r.region_c")} AS share_of_region_r,
        |  ${ratio6Sql("r.region_c", "t.total_c")} AS region_share_r
        |FROM nat n JOIN reg r USING (r_name), tot t
        |ORDER BY n.r_name, n.n_name""".stripMargin)),

    // Jensen–Shannon divergence between two sources' length
    // distributions (the bounded symmetric drift metric next to
    // q_ks_two_sample's sup-distance and q_dq_drift's moments):
    // 100-char buckets over the bounded length domain, p/q from exact
    // integer cells, JS = Σ ½p·ln(p/m) + ½q·ln(q/m) with m = (p+q)/2,
    // folded in sorted bucket order on the engine (the chi² term
    // discipline — the oracle's single-node SUM differs only below the
    // 6dp contract). det6.
    Query("q_js_divergence", (s, d) => {
      val dd = Tables.documents(s, d)
        .filter(col("source").isin("src0", "src1"))
        .select(col("source"), expr("n_chars DIV 100").as("bucket"))
      val cells = dd.groupBy(col("bucket")).agg(
        sum(when(col("source") === "src0", 1L).otherwise(0L)).as("c0"),
        sum(when(col("source") === "src1", 1L).otherwise(0L)).as("c1"))
      val tot = dd.agg(
        sum(when(col("source") === "src0", 1L).otherwise(0L)).as("n0"),
        sum(when(col("source") === "src1", 1L).otherwise(0L)).as("n1"))
      val p = col("c0").cast("double") / col("n0")
      val q0 = col("c1").cast("double") / col("n1")
      val m = (p + q0) / 2.0
      val term =
        when(col("c0") > 0, lit(0.5) * (p * log(p / m))).otherwise(0.0) +
          when(col("c1") > 0, lit(0.5) * (q0 * log(q0 / m))).otherwise(0.0)
      cells.crossJoin(broadcast(tot))
        .select(col("bucket"), term.as("term"))
        .agg(count(lit(1)).as("n_buckets"),
          det6(aggregate(
            sort_array(collect_list(struct(col("bucket"), col("term")))),
            lit(0.0), (acc, x) => acc + x.getField("term"))).as("js_r"))
    }, Sql(
      // the same cells + per-term CASE; single-node SUM vs the engine's
      // sorted fold — sub-6dp association difference only
      {
      val p = "(CAST(c0 AS DOUBLE) / n0)"
      val q0 = "(CAST(c1 AS DOUBLE) / n1)"
      val m = s"(($p + $q0) / 2.0)"
      val term =
        s"(CASE WHEN c0 > 0 THEN 0.5 * ($p * ln($p / $m)) ELSE 0.0 END" +
          s" + CASE WHEN c1 > 0 THEN 0.5 * ($q0 * ln($q0 / $m))" +
          s" ELSE 0.0 END)"
      s"""WITH dd AS (
        |  SELECT source, n_chars // 100 AS bucket FROM documents
        |  WHERE source IN ('src0', 'src1')),
        |cells AS (
        |  SELECT bucket,
        |    CAST(SUM(CASE WHEN source = 'src0' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS c0,
        |    CAST(SUM(CASE WHEN source = 'src1' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS c1
        |  FROM dd GROUP BY 1),
        |tot AS (
        |  SELECT
        |    CAST(SUM(CASE WHEN source = 'src0' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n0,
        |    CAST(SUM(CASE WHEN source = 'src1' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n1
        |  FROM dd)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_buckets,
        |  ${det6Sql(s"SUM($term)")} AS js_r
        |FROM cells, tot""".stripMargin
    })),

    // Newman modularity of the LPA partition (the "are these
    // communities real?" score the q_lpa_communities census lacks):
    // Q = Σ_c e_c/m − Σ_c (d_c/2m)², cleared of fractions to ONE exact
    // signed integer ratio (4m·e_intra − Σ_c d_c²) / 4m² — sratio6,
    // zero float ops. Labels come from the SAME Graph.lpaSteps(3)
    // relation the census reports; Σe_c needs only the total
    // equal-label edge count, Σd_c² one per-label degree rollup.
    Query("q_modularity", (s, d) => {
      val e = coPurchaseEdges(s, d).localCheckpoint(true)
      val labels = graft.operators.Graph.lpaSteps(e, rounds = 3)
      val sym = e.select(col("u").as("a"), col("v").as("b"))
        .unionAll(e.select(col("v").as("a"), col("u").as("b")))
      val deg = sym.groupBy(col("a").as("node"))
        .agg(count(lit(1)).as("deg"))
      val m = e.agg(count(lit(1)).as("m"))
      val intra = e
        .join(labels.select(col("node").as("u"), col("label").as("lu")),
          Seq("u"))
        .join(labels.select(col("node").as("v"), col("label").as("lv")),
          Seq("v"))
        .filter(col("lu") === col("lv"))
        .agg(count(lit(1)).as("e_intra"))
      val dsq = labels.join(deg, Seq("node"))
        .groupBy(col("label")).agg(sum(col("deg")).as("d_c"))
        .agg(count(lit(1)).as("n_communities"),
          sum(dec(col("d_c")) * dec(col("d_c"))).as("sum_dsq"))
      dsq.crossJoin(broadcast(m)).crossJoin(broadcast(intra))
        .select(col("n_communities"), col("m").as("m_edges"),
          col("e_intra"),
          sratio6(
            dec(lit(4)) * dec(col("m")) * dec(col("e_intra")) -
              col("sum_dsq"),
            dec(lit(4)) * dec(col("m")) * dec(col("m"))).as("q_r"))
    }, Sql(
      // the same LPA labels (shared lpaCtes) + the cleared-fraction
      // integer modularity
      s"""WITH $lpaCtes,
        |dg AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS deg
        |  FROM sym GROUP BY 1),
        |mm AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM edges),
        |ei AS (SELECT CAST(COUNT(*) AS BIGINT) AS e_intra
        |  FROM edges e JOIN l3 a ON a.node = e.u
        |  JOIN l3 b ON b.node = e.v
        |  WHERE a.label = b.label),
        |dc AS (SELECT l.label, CAST(SUM(deg) AS HUGEINT) AS d_c
        |  FROM l3 l JOIN dg USING (node) GROUP BY 1),
        |dsq AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_communities,
        |    CAST(SUM(d_c * d_c) AS HUGEINT) AS sum_dsq
        |  FROM dc)
        |SELECT n_communities, m AS m_edges, e_intra,
        |  ${sratio6Sql("4 * CAST(m AS HUGEINT) * e_intra - sum_dsq",
             "4 * CAST(m AS HUGEINT) * m")} AS q_r
        |FROM dsq, mm, ei""".stripMargin)),

    // Blocking-quality audit for the JW entity-resolution family (the
    // record-linkage literature's two headline metrics): reduction
    // ratio = 1 − |candidates|/|all pairs| (how much work the last-
    // token blocks save) and pairs completeness = |found|/|true| (what
    // recall they cost), with the TRUTH side a brute-force all-pairs
    // JW pass — quadratic BY DEFINITION (that is what it audits), run
    // over the bounded distinct-name relation; at corpus scale this
    // audit runs on a sample. Candidates and found reuse the exact
    // blockedPartPairs / jwMatches relations q_fuzzy_jw reports, so
    // the audit can't drift from the operator it audits. All counts
    // exact; both metrics ratio6.
    Query("q_blocking_quality", (s, d) => {
      val names = t(s, d, "part").select(col("p_name")).distinct()
      val jw = round(graft.functions.TextHashFunctions.jaro_winkler(
        col("a"), col("b")), 6)
      val allTrue = names.select(col("p_name").as("a"))
        .join(names.select(col("p_name").as("b")), col("a") < col("b"))
        .filter(jw >= 0.9)
      val nn = names.agg(count(lit(1)).as("n_names"))
      val nc = blockedPartPairs(s, d)
        .agg(count(lit(1)).as("n_candidates"))
      val nt = allTrue.agg(count(lit(1)).as("n_true"))
      val nf = jwMatches(s, d).agg(count(lit(1)).as("n_found"))
      nn.crossJoin(broadcast(nc)).crossJoin(broadcast(nt))
        .crossJoin(broadcast(nf))
        .withColumn("n_all_pairs", expr("n_names * (n_names - 1) DIV 2"))
        .select(col("n_names"), col("n_all_pairs"), col("n_candidates"),
          ratio6(col("n_all_pairs") - col("n_candidates"),
            col("n_all_pairs")).as("rr_r"),
          col("n_true"), col("n_found"),
          when(col("n_true") > 0, ratio6(col("n_found"), col("n_true")))
            .otherwise(lit(1.0)).as("pc_r"))
    }, Sql(
      // candidate CTE = the q_fuzzy_jw oracle's block relation; truth =
      // brute force over all distinct-name pairs with the same built-in
      // JW (proven equal to the engine's codegen'd JW by q_fuzzy_jw)
      s"""WITH n AS (
        |  SELECT DISTINCT p_name,
        |    list_extract(string_split(p_name, ' '), -1) AS block
        |  FROM part),
        |nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_names FROM n),
        |r AS (
        |  SELECT p_name, block,
        |    ROW_NUMBER() OVER (PARTITION BY block ORDER BY p_name) AS rn
        |  FROM n),
        |cand AS (
        |  SELECT a.p_name AS a, b.p_name AS b
        |  FROM r a JOIN r b ON a.block = b.block AND a.p_name < b.p_name
        |  WHERE a.rn <= 1000 AND b.rn <= 1000
        |  UNION ALL
        |  SELECT m.p_name AS a, o.p_name AS b
        |  FROM r o JOIN r m ON o.block = m.block AND m.rn = 1
        |  WHERE o.rn > 1000),
        |nc AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_candidates FROM cand),
        |tp AS (
        |  SELECT a.p_name AS a, b.p_name AS b
        |  FROM n a JOIN n b ON a.p_name < b.p_name
        |  WHERE ROUND(jaro_winkler_similarity(a.p_name, b.p_name), 6)
        |    >= 0.9),
        |nt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_true FROM tp),
        |nf AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_found FROM cand
        |  WHERE ROUND(jaro_winkler_similarity(a, b), 6) >= 0.9)
        |SELECT n_names, n_names * (n_names - 1) // 2 AS n_all_pairs,
        |  n_candidates,
        |  ${ratio6Sql("n_names * (n_names - 1) // 2 - n_candidates",
             "n_names * (n_names - 1) // 2")} AS rr_r,
        |  n_true, n_found,
        |  CASE WHEN n_true > 0 THEN ${ratio6Sql("n_found", "n_true")}
        |       ELSE CAST(1.0 AS DOUBLE) END AS pc_r
        |FROM nn, nc, nt, nf""".stripMargin)),

    // First principal component of the standardized lineitem measures
    // via 10 power iterations on the 4×4 correlation matrix — the
    // q_corr_matrix exact-moment discipline extended to an EIGENVECTOR:
    // the matrix entries are the same mirrored double chains (exact
    // DECIMAL numerators, one divide + sqrt), and the iteration runs as
    // an aggregate-HOF fold over sequence(1,10) whose state is the
    // (v₁..v₄, ‖Mv‖) struct — lambda-variable state, so the expression
    // DAG stays linear in the iteration count (no textual blow-up).
    // The start vector (0.5,0.5,0.5,0.5) is unit-norm; dot products and
    // norms are written in fixed left-assoc order and the oracle
    // unrolls the identical chain as 10 CTE pairs. Outputs det6.
    // The heavy work is ONE moment aggregate over the fact scan — the
    // iteration is O(1) on a one-row relation at any scale.
    Query("q_pca_power", (s, d) => {
      val names = momentNames
      val one = lineitemMoments(s, d)
      def mom(a: String, b: String): Column = {
        val (x, y) =
          if (names.indexOf(a) <= names.indexOf(b)) (a, b) else (b, a)
        (col("n") * col(s"sp_${x}_$y") - col(s"s_$a") * col(s"s_$b"))
          .cast("double")
      }
      def cc(a: String, b: String): Column =
        if (a == b) lit(1.0)
        else mom(a, b) / sqrt(mom(a, a) * mom(b, b))
      val fold = aggregate(sequence(lit(1), lit(10)),
        struct((names.map(nm => lit(0.5).as(s"v_$nm")) :+
          lit(0.0).as("lam")): _*),
        (acc, _) => {
          val w = names.map(a => names.map(b =>
            cc(a, b) * acc.getField(s"v_$b")).reduceLeft(_ + _))
          val nrm = sqrt(w.map(x => x * x).reduceLeft(_ + _))
          struct((names.zip(w).map { case (nm, wi) =>
            (wi / nrm).as(s"v_$nm") } :+ nrm.as("lam")): _*)
        })
      // hoist the fold into ONE column before the field selects: five
      // getField references inlined five copies of the 10-iteration
      // fold (each carrying all 16 correlation trees) into the final
      // projection, and the driver spent ~0.8 s of the 1.5 s line
      // planning it (the q_markov_attribution lesson; CollapseProject
      // keeps a multiply-referenced non-trivial alias un-inlined)
      one.withColumn("__f", fold)
        .select((col("n").cast("long").as("n_rows") +:
          names.map(nm => det6(col(s"__f.v_$nm")).as(s"load_$nm"))) :+
          det6(col("__f.lam")).as("lambda_r"): _*)
    }, Sql(pcaPowerOracle)),

    // Lorenz-curve knee (the "how many customers before returns
    // diminish" cut the ABC classes hard-code at 80/95): the point of
    // maximum vertical distance from the equality diagonal, argmax over
    // k of cum_k·N − k·S — EXACT integer cross products, no float
    // geometry at all. Rank and prefix sum come from ONE range-sorted
    // pass (Rank.withRankAndRunningTotal — never a single-partition
    // window); the argmax is one max_by over a total (m, −k) order.
    Query("q_lorenz_knee", (s, d) => {
      val rev = t(s, d, "orders").groupBy(col("o_custkey"))
        .agg(sum(cents(col("o_totalprice"))).as("rev_c"))
      val (run, nCust, totC) = graft.operators.Rank.withRankAndRunningTotal(
        rev, "k", "cum_c", "rev_c", col("rev_c").desc, col("o_custkey"))
      val m = (dec(col("cum_c")) * lit(nCust) - dec(col("k")) * lit(totC))
        .as("m")
      run.select(col("k"), col("cum_c"), m)
        .agg(max_by(struct(col("k"), col("cum_c"), col("m")),
          struct(col("m"), (-col("k")).as("nk"))).as("best"))
        .select(lit(nCust).as("n_custs"), lit(totC).as("total_c"),
          col("best.k").as("knee_k"), col("best.cum_c").as("knee_cum_c"),
          ratio6(col("best.cum_c"), lit(totC)).as("knee_share_r"),
          ratio6(col("best.k"), lit(nCust)).as("knee_frac_r"))
    }, Sql(
      // the same integer cross-product argmax (ORDER BY m DESC, k LIMIT 1
      // = max_by over the total (m, −k) order)
      s"""WITH rev AS (
        |  SELECT o_custkey,
        |    CAST(SUM(CAST(ROUND(o_totalprice*100) AS BIGINT)) AS BIGINT)
        |      AS rev_c
        |  FROM orders GROUP BY 1),
        |run AS (
        |  SELECT rev_c,
        |    CAST(ROW_NUMBER() OVER (ORDER BY rev_c DESC, o_custkey)
        |      AS BIGINT) AS k,
        |    CAST(SUM(rev_c) OVER (ORDER BY rev_c DESC, o_custkey
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS cum_c
        |  FROM rev),
        |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_custs,
        |  CAST(SUM(rev_c) AS BIGINT) AS total_c FROM rev),
        |best AS (
        |  SELECT k, cum_c FROM run, tot
        |  ORDER BY CAST(cum_c AS HUGEINT) * n_custs
        |    - CAST(k AS HUGEINT) * total_c DESC, k
        |  LIMIT 1)
        |SELECT n_custs, total_c, k AS knee_k, cum_c AS knee_cum_c,
        |  ${ratio6Sql("cum_c", "total_c")} AS knee_share_r,
        |  ${ratio6Sql("k", "n_custs")} AS knee_frac_r
        |FROM best, tot""".stripMargin)),

    // Degree assortativity of the co-purchase graph (do hubs link to
    // hubs?): Pearson correlation of endpoint degrees over the DIRECTED
    // edge list — the q_corr_matrix exact-moment chain on (deg_u,
    // deg_v) pairs; the only float ops are the final divide + sqrt,
    // mirrored. Degrees attach by two broadcast-size joins on the
    // already-reduced edge relation.
    Query("q_degree_assortativity", (s, d) => {
      val e = coPurchaseEdges(s, d)
      val sym = e.select(col("u").as("a"), col("v").as("b"))
        .unionAll(e.select(col("v").as("a"), col("u").as("b")))
      val deg = sym.groupBy(col("a")).agg(count(lit(1)).as("deg"))
      val xy = sym
        .join(deg.select(col("a"), col("deg").as("x")), Seq("a"))
        .join(deg.select(col("a").as("b"), col("deg").as("y")), Seq("b"))
      val one = xy.agg(count(lit(1)).cast("decimal(38,0)").as("n"),
        sum(dec(col("x"))).as("sx"), sum(dec(col("y"))).as("sy"),
        sum(dec(col("x")) * dec(col("y"))).as("sxy"),
        sum(dec(col("x")) * dec(col("x"))).as("sxx"),
        sum(dec(col("y")) * dec(col("y"))).as("syy"))
      one.select(col("n").cast("long").as("n_edges_dir"),
        det6((col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
          sqrt((col("n") * col("sxx") - col("sx") * col("sx")).cast("double") *
            (col("n") * col("syy") - col("sy") * col("sy")).cast("double")))
          .as("assort_r"))
    }, Sql(
      // the same exact-moment Pearson chain over endpoint degrees
      s"""WITH $coPurchaseCte,
        |sym AS (SELECT u AS a, v AS b FROM edges
        |  UNION ALL SELECT v AS a, u AS b FROM edges),
        |deg AS (SELECT a, CAST(COUNT(*) AS BIGINT) AS deg
        |  FROM sym GROUP BY 1),
        |xy AS (
        |  SELECT dx.deg AS x, dy.deg AS y
        |  FROM sym JOIN deg dx ON dx.a = sym.a
        |  JOIN deg dy ON dy.a = sym.b),
        |m AS (SELECT CAST(COUNT(*) AS HUGEINT) AS n,
        |  SUM(CAST(x AS HUGEINT)) AS sx, SUM(CAST(y AS HUGEINT)) AS sy,
        |  SUM(CAST(x AS HUGEINT) * CAST(y AS HUGEINT)) AS sxy,
        |  SUM(CAST(x AS HUGEINT) * CAST(x AS HUGEINT)) AS sxx,
        |  SUM(CAST(y AS HUGEINT) * CAST(y AS HUGEINT)) AS syy
        |FROM xy)
        |SELECT CAST(n AS BIGINT) AS n_edges_dir,
        |  ${det6Sql("CAST(n * sxy - sx * sy AS DOUBLE) / " +
                     "sqrt(CAST(n * sxx - sx * sx AS DOUBLE) * " +
                     "CAST(n * syy - sy * sy AS DOUBLE))")} AS assort_r
        |FROM m""".stripMargin)),

    // Order-to-ship latency profile per priority (the fulfilment-SLA
    // readout; a fact-to-fact join the TPC-H suite lacks): integer day
    // gaps from the orderkey equi-join, exact mean (ratio6), and p50 /
    // p90 as EXACT lower order statistics on the bounded integer-day
    // gap grid — smallest gap whose cumulative count reaches ⌈p·n⌉,
    // via per-(priority, gap) cells + one domain-bounded cumulative
    // window; all-integer (the non-dyadic 0.9 would be an interpolation
    // seam through percentile()/quantile_cont).
    Query("q_ship_latency", (s, d) => {
      val o = t(s, d, "orders").select(col("o_orderkey"),
        col("o_orderpriority"),
        floor(unix_timestamp(col("o_orderdate")) / 86400).cast("long")
          .as("od"))
      val l = t(s, d, "lineitem").select(col("l_orderkey").as("o_orderkey"),
        floor(unix_timestamp(col("l_shipdate")) / 86400).cast("long")
          .as("sd"))
      val cells = l.join(o, Seq("o_orderkey"))
        .select(col("o_orderpriority"), (col("sd") - col("od")).as("gap"))
        .groupBy(col("o_orderpriority"), col("gap"))
        .agg(count(lit(1)).as("m"), sum(col("gap")).as("sg"))
      val wcum = Window.partitionBy(col("o_orderpriority"))
        .orderBy(col("gap"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      cells.withColumn("cum", sum(col("m")).over(wcum))
        .withColumn("ntot", sum(col("m")).over(
          Window.partitionBy(col("o_orderpriority"))))
        .groupBy(col("o_orderpriority"))
        .agg(max(col("ntot")).as("n_lines"),
          ratio6(sum(col("sg")), max(col("ntot"))).as("mean_gap_r"),
          min(when(col("cum") * 2 >= col("ntot"), col("gap")))
            .as("p50_gap"),
          min(when(col("cum") * 10 >= col("ntot") * 9, col("gap")))
            .as("p90_gap"),
          max(col("gap")).as("max_gap"))
        .orderBy(col("o_orderpriority"))
    }, Sql(
      // the same all-integer order statistics on the bounded gap grid
      s"""WITH o AS (
        |  SELECT o_orderkey, o_orderpriority,
        |    (epoch_us(o_orderdate) // 1000000) // 86400 AS od
        |  FROM orders),
        |l AS (
        |  SELECT l_orderkey AS o_orderkey,
        |    (epoch_us(l_shipdate) // 1000000) // 86400 AS sd
        |  FROM lineitem),
        |cells AS (
        |  SELECT o_orderpriority, sd - od AS gap,
        |    CAST(COUNT(*) AS BIGINT) AS m,
        |    CAST(SUM(sd - od) AS BIGINT) AS sg
        |  FROM l JOIN o USING (o_orderkey) GROUP BY 1, 2),
        |cum AS (
        |  SELECT o_orderpriority, gap, m, sg,
        |    CAST(SUM(m) OVER (PARTITION BY o_orderpriority ORDER BY gap
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS cum,
        |    CAST(SUM(m) OVER (PARTITION BY o_orderpriority)
        |      AS BIGINT) AS ntot
        |  FROM cells)
        |SELECT o_orderpriority, MAX(ntot) AS n_lines,
        |  ${ratio6Sql("SUM(sg)", "MAX(ntot)")} AS mean_gap_r,
        |  MIN(CASE WHEN cum * 2 >= ntot THEN gap END) AS p50_gap,
        |  MIN(CASE WHEN cum * 10 >= ntot * 9 THEN gap END) AS p90_gap,
        |  MAX(gap) AS max_gap
        |FROM cum GROUP BY 1 ORDER BY o_orderpriority""".stripMargin)),

    // Grouped regression across a dimension join (price-vs-quantity
    // slope per BRAND — the per-segment elasticity readout): the
    // q_ols_fit exact-moment discipline with the grouping key fetched
    // by a broadcast dimension join; slope and intercept are EXACT
    // integer ratios (sratio6) — zero float ops anywhere.
    Query("q_ols_grouped", (s, d) => {
      val li = t(s, d, "lineitem")
        .select(col("l_partkey"), col("l_quantity").cast("long").as("x"),
          cents(col("l_extendedprice")).as("y"))
        .join(broadcast(t(s, d, "part")
          .select(col("p_partkey").as("l_partkey"), col("p_brand"))),
          Seq("l_partkey"))
      val m = li.groupBy(col("p_brand")).agg(
        count(lit(1)).cast("decimal(38,0)").as("n"),
        sum(dec(col("x"))).as("sx"), sum(dec(col("y"))).as("sy"),
        sum(dec(col("x") * col("x"))).as("sxx"),
        sum(dec(col("x") * col("y"))).as("sxy"))
      val sxxc = col("n") * col("sxx") - col("sx") * col("sx")
      val sxyc = col("n") * col("sxy") - col("sx") * col("sy")
      m.select(col("p_brand"), col("n").cast("long").as("n_rows"),
          sratio6(sxyc, sxxc).as("slope_r"),
          sratio6(col("sy") * sxxc - sxyc * col("sx"), col("n") * sxxc)
            .as("intercept_r"))
        .orderBy(col("p_brand"))
    }, Sql(
      // the q_ols_fit exact-ratio machinery, grouped by the joined brand
      s"""WITH li AS (
        |  SELECT p_brand, CAST(l_quantity AS BIGINT) AS x,
        |    CAST(ROUND(l_extendedprice*100) AS BIGINT) AS y
        |  FROM lineitem JOIN part ON p_partkey = l_partkey),
        |m AS (
        |  SELECT p_brand,
        |    CAST(COUNT(*) AS HUGEINT) AS n,
        |    CAST(SUM(CAST(x AS DECIMAL(38,0))) AS HUGEINT) AS sx,
        |    CAST(SUM(CAST(y AS DECIMAL(38,0))) AS HUGEINT) AS sy,
        |    CAST(SUM(CAST(x*x AS DECIMAL(38,0))) AS HUGEINT) AS sxx,
        |    CAST(SUM(CAST(x*y AS DECIMAL(38,0))) AS HUGEINT) AS sxy
        |  FROM li GROUP BY 1),
        |c AS (
        |  SELECT p_brand, n, sx, sy,
        |    (n*sxx - sx*sx) AS sxxc,
        |    (n*sxy - sx*sy) AS sxyc
        |  FROM m)
        |SELECT p_brand, CAST(n AS BIGINT) AS n_rows,
        |  ${sratio6Sql("sxyc", "sxxc")} AS slope_r,
        |  ${sratio6Sql("sy*sxxc - sxyc*sx", "n*sxxc")} AS intercept_r
        |FROM c ORDER BY p_brand""".stripMargin)),

    // Herfindahl–Hirschman revenue concentration per nation (the
    // market-structure audit next to q_gini_revenue's Lorenz scalar):
    // HHI = Σ shareᵢ² = Σ revᵢ² / (Σ revᵢ)² — ONE exact integer ratio
    // (ratio6), zero float ops; per-customer revenue is one rollup and
    // the nation key rides a broadcast dimension join.
    Query("q_hhi", (s, d) => {
      val rev = t(s, d, "orders").groupBy(col("o_custkey"))
        .agg(sum(cents(col("o_totalprice"))).as("rev_c"))
        .join(broadcast(t(s, d, "customer")
          .select(col("c_custkey").as("o_custkey"),
            col("c_nationkey").cast("long").as("nation"))),
          Seq("o_custkey"))
      rev.groupBy(col("nation"))
        .agg(count(lit(1)).as("n_custs"),
          sum(col("rev_c")).as("total_c"),
          sum(dec(col("rev_c")) * dec(col("rev_c"))).as("sq"))
        .select(col("nation"), col("n_custs"), col("total_c"),
          ratio6(col("sq"),
            dec(col("total_c")) * dec(col("total_c"))).as("hhi_r"))
        .orderBy(col("nation"))
    }, Sql(
      // the same single exact ratio Σrev² / (Σrev)²
      s"""WITH rev AS (
        |  SELECT o_custkey,
        |    CAST(SUM(CAST(ROUND(o_totalprice*100) AS BIGINT)) AS BIGINT)
        |      AS rev_c
        |  FROM orders GROUP BY 1),
        |j AS (
        |  SELECT CAST(c_nationkey AS BIGINT) AS nation, rev_c
        |  FROM rev JOIN customer ON c_custkey = o_custkey),
        |agg AS (
        |  SELECT nation, CAST(COUNT(*) AS BIGINT) AS n_custs,
        |    CAST(SUM(rev_c) AS BIGINT) AS total_c,
        |    CAST(SUM(CAST(rev_c AS HUGEINT) * CAST(rev_c AS HUGEINT))
        |      AS HUGEINT) AS sq
        |  FROM j GROUP BY 1)
        |SELECT nation, n_custs, total_c,
        |  ${ratio6Sql("sq",
             "CAST(total_c AS HUGEINT) * CAST(total_c AS HUGEINT)")} AS hhi_r
        |FROM agg ORDER BY nation""".stripMargin))
  )

  /** The [[graft.operators.Graph.pageRank]] recurrence unrolled into
    * generated CTEs (r1..r5), one per iteration — generated from the same
    * (iterations, damping) spec as the Spark side so the two can't drift.
    * Literals are CAST AS DOUBLE and the teleport term is computed as
    * `(1 - damping)` IN DOUBLE on both engines (the Scala side computes
    * `(1.0 - 0.85) / n`, and `1 - 0.85` differs from a literal `0.15` by
    * one ulp — mirroring the arithmetic, not the decimal text, is what
    * keeps the 6dp rounding seam safe).
    */
  /** The symmetric customer↔supplier trade graph both PageRank queries
    * walk: dedup on the LONG key pair (the edge-mining shuffle — 16-byte
    * rows beat variable-length strings through it), stringify after,
    * symmetrize with ONE pass (explode of a 2-struct array — a
    * self-union would evaluate the join+distinct subtree twice).
    */
  /** The FULL q_pagerank shape (edge mining → 5 power-iteration rounds →
    * 6dp rounding → node order) with the fast-path guard exposed — shared
    * by the registered query and Soak's forced-distributed twin so the
    * two soak rows are ONE plan differing only in the guard (the r10
    * twin rebuilt the edges inline and skipped the rounding/sort, which
    * made its x10 reading incomparable with the default row).
    */
  private[graft] def pagerankFull(s: SparkSession, d: String,
      localThreshold: Long): DataFrame =
    graft.operators.Graph.pageRank(tradeEdges(s, d),
        iterations = 5, damping = 0.85, localThreshold = localThreshold)
      .select(tradeNodeLabel(col("node")).as("node"),
        round(col("rank"), 6).as("rank_r"))
      .orderBy(col("node"))

  /** The registered q_hits closure with the guard exposed — the soak's
    * forced-distributed twin must be the IDENTICAL plan (same edge
    * mining, rounding, output sort) with only the guard forced off,
    * the pagerankFull convention.
    */
  private[graft] def hitsFull(s: SparkSession, d: String,
      localThreshold: Long): DataFrame =
    graft.operators.Graph.hits(directedTradeEdges(s, d), iterations = 5,
        localThreshold = localThreshold)
      .select(tradeNodeLabel(col("node")).as("node"), col("kind"),
        round(col("score"), 6).as("score_r"))
      .orderBy(col("kind"), col("node"))

  /** The registered q_sssp closure with the guard exposed — the soak's
    * forced-distributed twin must be the IDENTICAL plan (same edge
    * mining, cost tiers, output sort) with only the guard forced off,
    * the [[pagerankFull]] convention.
    */
  private[graft] def ssspFull(s: SparkSession, d: String,
      localThreshold: Long): DataFrame = {
    val o = t(s, d, "orders").select(col("o_orderkey"), col("o_custkey"))
    val l = t(s, d, "lineitem").select(col("l_orderkey"), col("l_suppkey"))
    // Node ids ride as LONGS through the whole iteration (guide §2.3
    // narrower types): customers on even, suppliers on odd ids. The
    // distances are exact INTEGER math (the zero-float-seam family), so
    // the label representation cannot change any value — only the final
    // presentation concat below maps back to the oracle's 'c…'/'s…'
    // strings. vs the r16 string form this cuts the checkpointed edge
    // relation and the guard-count/collect passes ~3× (two 8-byte longs
    // per edge instead of two heap strings).
    val pairs = o.join(l, col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("o_custkey"), col("l_suppkey"))
      .agg(countDistinct(col("o_orderkey")).as("n_ord"))
      .select((col("o_custkey") * 2L).as("a"),
        (col("l_suppkey") * 2L + 1L).as("b"),
        when(col("n_ord") >= 3, 1L).when(col("n_ord") === 2, 2L)
          .otherwise(3L).as("w"))
    val edges = pairs.select(explode(array(
        struct(col("a").as("src"), col("b").as("dst"), col("w")),
        struct(col("b").as("src"), col("a").as("dst"), col("w")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"),
        col("e.w").as("w"))
    val seeds = t(s, d, "customer")
      .filter(col("c_mktsegment") === "BUILDING")
      .select((col("c_custkey") * 2L).as("node"))
    graft.operators.Graph.sssp(edges, seeds, rounds = 4,
        localThreshold = localThreshold)
      .select(
        when(col("node") % 2 === 0, concat(lit("c"), (col("node") / 2).cast("long")))
          .otherwise(concat(lit("s"), ((col("node") - 1) / 2).cast("long")))
          .as("node"),
        col("dist"))
      .orderBy(col("node"))
  }

  /** The distinct customer→supplier interaction pairs as directed
    * `(src, dst)` — HITS runs it as-is; the PageRank oracle prefix and
    * [[tradeEdges]] symmetrize it. ONE definition so the engine queries
    * and both generated oracles can never drift on the edge mining.
    */
  // private[graft]: Soak counts this relation per blow-up scale to
  // decompose time-growth into edge-growth × per-edge cost (r14 Next #6)
  private[graft] def directedTradeEdges(s: SparkSession, d: String): DataFrame = {
    val o = t(s, d, "orders").select(col("o_orderkey"), col("o_custkey"))
    val l = t(s, d, "lineitem").select(col("l_orderkey"), col("l_suppkey"))
    // Node ids ride as LONGS (customers even, suppliers odd — the
    // ssspFull convention, guide §2.3 narrower types): vs the r17
    // string form this cuts the symmetrized edge checkpoint + the
    // guard-count/collect passes ~3-4× (two 8-byte longs per edge
    // instead of two heap strings — measured r18: the pagerank-family
    // collect read a 137 MB checkpoint and the local twin's
    // UTF8String-keyed index build was a ~0.6 s driver gap). The
    // iteration float math is value-identical (same edges, same
    // degrees); only [[tradeNodeLabel]] maps back to the oracle's
    // 'c…'/'s…' strings in the output projection.
    o.join(l, col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey"), col("l_suppkey")).distinct()
      .select((col("o_custkey") * 2L).as("src"),
        (col("l_suppkey") * 2L + 1L).as("dst"))
  }

  /** Long node id → the oracle's 'c<custkey>'/'s<suppkey>' label (the
    * ssspFull presentation projection, shared).
    */
  private def tradeNodeLabel(node: Column): Column =
    when(node % 2 === 0, concat(lit("c"), (node / 2).cast("long")))
      .otherwise(concat(lit("s"), ((node - 1) / 2).cast("long")))

  private[graft] def tradeEdges(s: SparkSession, d: String): DataFrame =
    directedTradeEdges(s, d)
      .select(explode(array(
        struct(col("src"), col("dst")),
        struct(col("dst").as("src"), col("src").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))

  /** Shared CTE prefix of both PageRank oracles: the symmetric trade
    * graph, node set, out-degrees, and the per-node teleport CTE `tele`
    * supplied by the caller (uniform or seed-normalized). The iteration
    * body mirrors Graph.run's arithmetic EXACTLY — `(1−d)·p + d·Σ`, a
    * multiplication by the teleport column, not a division by n (the
    * two differ by an ulp and the engines must agree before rounding).
    */
  private def pagerankCtes(teleCte: String, iters: Int): String = {
    val damp = "CAST(0.85 AS DOUBLE)"
    val body = (1 to iters).map { k =>
      s""", r$k AS (
         |  SELECT t.node,
         |    (CAST(1 AS DOUBLE) - $damp)*t.p + $damp*COALESCE(sm.in_sum, CAST(0 AS DOUBLE)) AS rank
         |  FROM tele t LEFT JOIN (
         |    SELECT e.dst AS node, SUM(p.rank / dg.out_deg) AS in_sum
         |    FROM edges e JOIN r${k - 1} p ON e.src = p.node
         |    JOIN deg dg ON e.src = dg.src
         |    GROUP BY e.dst) sm ON t.node = sm.node)""".stripMargin
    }.mkString
    s"""WITH pairs AS (
       |  SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS c,
       |                  's' || CAST(l_suppkey AS VARCHAR) AS s
       |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
       |), edges AS (
       |  SELECT c AS src, s AS dst FROM pairs
       |  UNION ALL SELECT s AS src, c AS dst FROM pairs
       |), nodes AS (SELECT DISTINCT src AS node FROM edges
       |), nn AS (SELECT COUNT(*) AS n FROM nodes
       |), deg AS (SELECT src, COUNT(*) AS out_deg FROM edges GROUP BY src
       |), $teleCte
       |, r0 AS (SELECT node, p AS rank FROM tele)""".stripMargin + body
  }

  private def pagerankOracle: String =
    pagerankCtes(
      "tele AS (SELECT node, CAST(1 AS DOUBLE)/(SELECT n FROM nn) AS p FROM nodes)",
      5) +
      "\nSELECT node, ROUND(rank, 6) AS rank_r FROM r5 ORDER BY node"

  /** Generated unrolled-CTE twin of [[graft.operators.Graph.hits]] over
    * the DIRECTED customer→supplier graph: 5 rounds, each an authority
    * sum + L1 normalize then a hub sum + L1 normalize — the exact
    * arithmetic order the engine uses (`sum / total`, never a fused
    * form), so only the 6dp presentation rounding absorbs the
    * addition-order seam.
    */
  private def hitsOracle: String = {
    // L1 normalize via SUM() OVER () so every CTE is referenced exactly
    // once — a scalar-subquery normalizer references its CTE twice,
    // which under CTE inlining doubles the plan per half-step (4^5× by
    // round 5 — observed as a hang, the pagerank-oracle lesson extended)
    val body = (1 to 5).map { k =>
      s""", ar$k AS (
         |  SELECT e.dst AS node, SUM(h.h) AS a
         |  FROM e JOIN h${k - 1} h ON e.src = h.node GROUP BY 1
         |), a$k AS (
         |  SELECT node, a / SUM(a) OVER () AS a FROM ar$k
         |), hr$k AS (
         |  SELECT e.src AS node, SUM(a.a) AS h
         |  FROM e JOIN a$k a ON e.dst = a.node GROUP BY 1
         |), h$k AS (
         |  SELECT node, h / SUM(h) OVER () AS h FROM hr$k
         |)""".stripMargin
    }.mkString
    s"""WITH pairs AS (
       |  SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS c,
       |                  's' || CAST(l_suppkey AS VARCHAR) AS s
       |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
       |), e AS (SELECT c AS src, s AS dst FROM pairs
       |), hn AS (SELECT DISTINCT src AS node FROM e
       |), h0 AS (
       |  SELECT node, CAST(1 AS DOUBLE) / (SELECT COUNT(*) FROM hn) AS h
       |  FROM hn
       |)""".stripMargin + body +
      """
        |SELECT node, 'auth' AS kind, ROUND(a, 6) AS score_r FROM a5
        |UNION ALL
        |SELECT node, 'hub' AS kind, ROUND(h, 6) AS score_r FROM h5
        |ORDER BY kind, node""".stripMargin
  }

  /** Generated unrolled-CTE twin of [[graft.operators.Graph.sssp]] on
    * the weighted trade graph: 4 relaxation rounds, each
    * `dist_k(v) = MIN(dist_{k-1}(v), MIN over edges (u,v) of
    * dist_{k-1}(u) + w)` — the exact recurrence both engine paths run.
    * Pure integer arithmetic: distances compare bit-for-bit, the only
    * oracle in the iterative-graph family with NO rounding seam.
    */
  /** q_lpa_communities' twin: the mode update unrolled round by round
    * (ROW_NUMBER over (count DESC, label) — the same min-label
    * tiebreak), exact integers end to end.
    */
  /** The LPA round CTEs (no leading WITH — the r12 composition lesson),
    * shared by [[lpaOracle]] and the q_modularity oracle. Exposes
    * `edges(u,v)`, `sym(node,nbr)` and the final labels `l3(node,label)`.
    */
  private def lpaCtes: String = {
    val rounds = 3
    val body = (1 to rounds).map { r =>
      s""", c$r AS (
         |  SELECT s.node, l.label, COUNT(*) AS cnt
         |  FROM sym s JOIN l${r - 1} l ON l.node = s.nbr
         |  GROUP BY s.node, l.label
         |), l$r AS MATERIALIZED (
         |  SELECT node, label FROM (
         |    SELECT node, label,
         |      ROW_NUMBER() OVER (PARTITION BY node
         |        ORDER BY cnt DESC, label) AS rn
         |    FROM c$r) x WHERE rn = 1)""".stripMargin
    }.mkString
    s"""$coPurchaseCte,
       |sym AS MATERIALIZED (
       |  SELECT u AS node, v AS nbr FROM edges
       |  UNION SELECT v AS node, u AS nbr FROM edges),
       |l0 AS (SELECT DISTINCT node, node AS label FROM sym)""".stripMargin +
      body
  }

  private def lpaOracle: String =
    s"WITH $lpaCtes" +
      "\nSELECT label, COUNT(*) AS n_members FROM l3" +
      "\nGROUP BY label ORDER BY label"

  /** q_random_walks' twin: replays every walk step through the mod-2^64
    * HUGEINT mix64 (combine constants seed·golden / 0xc2b2ae3d27d4eb4f /
    * 0x165667b19e3779f9, then the splitmix finalizer stages — keep in
    * lockstep with TextHashFunctions.mix64Eval), one staged CTE chain
    * per step so the split-multiply's textual duplication never
    * compounds (the minhashCte lesson).
    */
  private def walkOracle: String =
    s"WITH $walkCte\n" +
      "SELECT start, w, step, node FROM visits ORDER BY start, w, step, node"

  /** The walk-replay CTE chain shared by walkOracle and the skip-gram
    * oracle — exposes `visits(start, w, step, node)`.
    */
  private def walkCte: String = {
    val (nStarts, nWalks, walkLen, seed) = (20, 2, 4, 42)
    def mm64(a: String, b: String) = TextQueries.mm64(a, b)
    val M = "18446744073709551616" // 2^64
    val seedTerm =
      java.lang.Long.toUnsignedString(seed.toLong * 0x9e3779b97f4a7c15L)
    val body = (1 to walkLen).map { t =>
      s""", s${t}0 AS (
         |  SELECT p.start, p.w, p.node, d.deg,
         |    ($seedTerm + ${mm64(s"CAST(p.node AS HUGEINT)", "14029467366897019727")}
         |     + ${mm64(s"CAST(p.w AS HUGEINT)", "1609587929392839161")} + $t) % $M AS z0
         |  FROM w${t - 1} p JOIN dg d ON d.node = p.node
         |), s${t}1 AS (SELECT *, ${mm64("xor(z0, z0 // 1073741824)", "13787848793156543929")} AS z1 FROM s${t}0
         |), s${t}2 AS (SELECT *, ${mm64("xor(z1, z1 // 134217728)", "10723151780598845931")} AS z2 FROM s${t}1
         |), s${t}3 AS (SELECT *, xor(z2, z2 // 2147483648) AS zz FROM s${t}2
         |), s${t}4 AS (
         |  SELECT start, w, node, deg,
         |    CAST(CASE WHEN zz >= 9223372036854775808
         |      THEN zz - $M ELSE zz END AS BIGINT) AS sgn
         |  FROM s${t}3
         |), w$t AS MATERIALIZED (
         |  SELECT p.start, p.w, a.nbr AS node
         |  FROM s${t}4 p JOIN adj a ON a.node = p.node
         |   AND a.rn = 1 + ((p.sgn % p.deg) + p.deg) % p.deg)""".stripMargin
    }.mkString
    val out = (0 to walkLen).map(t =>
      s"SELECT start, w, CAST($t AS BIGINT) AS step, node FROM w$t")
      .mkString("\nUNION ALL\n")
    s"""$coPurchaseCte,
       |sym AS (
       |  SELECT u AS node, v AS nbr FROM edges
       |  UNION SELECT v AS node, u AS nbr FROM edges),
       |adj AS MATERIALIZED (
       |  SELECT node, nbr,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY node ORDER BY nbr) AS BIGINT) AS rn,
       |    CAST(COUNT(*) OVER (PARTITION BY node) AS BIGINT) AS deg
       |  FROM sym),
       |dg AS (SELECT DISTINCT node, deg FROM adj),
       |starts AS (
       |  SELECT node AS start FROM (
       |    SELECT DISTINCT node FROM adj ORDER BY node LIMIT $nStarts) s),
       |w0 AS (
       |  SELECT start, CAST(w AS BIGINT) AS w, start AS node
       |  FROM starts, (SELECT UNNEST(range($nWalks)) AS w) ww)""".stripMargin +
      body + s",\nvisits AS (\n$out)"
  }

  /** The moment oracles' exact HUGEINT sums over lineitem in integer
    * cents: `m(n, s_<c>, sp_<c>_<c'>)` for c <= c' in (qty, price, disc,
    * tax). */
  private def lineitemMomentCtes: String = {
    val names = Seq("qty", "price", "disc", "tax")
    val moments = (Seq("CAST(COUNT(*) AS HUGEINT) AS n") ++
      names.map(a => s"CAST(SUM(CAST($a AS HUGEINT)) AS HUGEINT) AS s_$a") ++
      (for { i <- names.indices; j <- i until names.size } yield
        s"CAST(SUM(CAST(${names(i)} * ${names(j)} AS HUGEINT)) AS HUGEINT)" +
          s" AS sp_${names(i)}_${names(j)}")).mkString(",\n  ")
    s"""WITH b AS (
       |  SELECT CAST(l_quantity AS BIGINT) AS qty,
       |    CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS price,
       |    CAST(ROUND(l_discount * 100) AS BIGINT) AS disc,
       |    CAST(ROUND(l_tax * 100) AS BIGINT) AS tax
       |  FROM lineitem),
       |m AS (SELECT
       |  $moments
       |FROM b)""".stripMargin
  }

  /** q_corr_matrix's twin: the same exact-integer moments as HUGEINT
    * sums and the same corr formula with the single double seam at the
    * final divide (op order mirrored: numerator cast, two variance
    * casts, multiply, sqrt, divide, 6dp round).
    */
  private def corrMatrixOracle: String = {
    val names = Seq("qty", "price", "disc", "tax")
    val rows = (for { i <- names.indices; j <- (i + 1) until names.size }
      yield {
        val (a, b) = (names(i), names(j))
        s"""SELECT '$a' AS col_a, '$b' AS col_b,
           |  ${det6Sql(s"CAST(n * sp_${a}_$b - s_$a * s_$b AS DOUBLE) / " +
                        s"sqrt(CAST(n * sp_${a}_$a - s_$a * s_$a AS DOUBLE) * " +
                        s"CAST(n * sp_${b}_$b - s_$b * s_$b AS DOUBLE))")}
           |    AS corr_r FROM m""".stripMargin
      }).mkString("\nUNION ALL\n")
    s"""$lineitemMomentCtes
       |$rows
       |ORDER BY col_a, col_b""".stripMargin
  }

  /** [[corrMatrixOracle]]'s moment machinery + the power iteration
    * unrolled as 10 (w, normalize) CTE pairs — generated from the same
    * `names`/iteration spec as the engine fold so the fp op order can't
    * drift. Diagonal correlations are the literal 1.0 on both sides.
    */
  private def pcaPowerOracle: String = {
    val names = Seq("qty", "price", "disc", "tax")
    def momSql(a: String, b: String): String = {
      val (x, y) =
        if (names.indexOf(a) <= names.indexOf(b)) (a, b) else (b, a)
      s"CAST(n * sp_${x}_$y - s_$a * s_$b AS DOUBLE)"
    }
    def cSql(a: String, b: String): String =
      if (a == b) "CAST(1.0 AS DOUBLE)"
      else s"(${momSql(a, b)} / sqrt(${momSql(a, a)} * ${momSql(b, b)}))"
    val nrm = names.map(a => s"w_$a * w_$a").mkString(" + ")
    val vCols = names.map(a => s"v_$a").mkString(", ")
    val wCols = names.map(a => s"w_$a").mkString(", ")
    val iters = (1 to 10).map { k =>
      val prev = if (k == 1) "it0" else s"it${k - 1}"
      val ws = names.map(a => "(" +
        names.map(b => s"${cSql(a, b)} * v_$b").mkString(" + ") +
        s") AS w_$a").mkString(",\n    ")
      s"""w$k AS (SELECT *, $ws FROM $prev),
         |it$k AS (
         |  SELECT * EXCLUDE ($vCols, lam, $wCols),
         |    ${names.map(a => s"w_$a / sqrt($nrm) AS v_$a").mkString(",\n    ")},
         |    sqrt($nrm) AS lam
         |  FROM w$k)""".stripMargin
    }.mkString(",\n")
    s"""$lineitemMomentCtes,
       |it0 AS (SELECT m.*,
       |  ${names.map(a => s"CAST(0.5 AS DOUBLE) AS v_$a").mkString(", ")},
       |  CAST(0.0 AS DOUBLE) AS lam FROM m),
       |$iters
       |SELECT CAST(n AS BIGINT) AS n_rows,
       |  ${names.map(a => det6Sql(s"v_$a") + s" AS load_$a").mkString(",\n  ")},
       |  ${det6Sql("lam")} AS lambda_r
       |FROM it10""".stripMargin
  }

  /** The co-purchase edge CTE shared by the q_triangles and q_kcore
    * oracles — the SQL twin of [[coPurchaseEdges]]. Exposes `edges(u, v)`.
    */
  private def coPurchaseCte: String =
    """lp AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      |capped AS (
      |  SELECT l_orderkey, l_partkey FROM (
      |    SELECT l_orderkey, l_partkey,
      |      ROW_NUMBER() OVER (PARTITION BY l_orderkey ORDER BY l_partkey) AS rn
      |    FROM lp) WHERE rn <= 20),
      |edges AS (
      |  SELECT a.l_partkey AS u, b.l_partkey AS v
      |  FROM capped a JOIN capped b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      |  GROUP BY 1, 2 HAVING COUNT(*) >= 2)""".stripMargin

  /** The q_entropy_report oracle, generated per (label, table, column)
    * from one template so the four blocks can't drift. Engine fold
    * (acc − p·ln p in sorted order) vs the oracle's single-node SUM of
    * −(p·ln p): association differs only below the 6dp contract.
    */
  private def entropyOracle: String = {
    val cols = Seq(("documents.lang", "documents", "lang"),
      ("documents.source", "documents", "source"),
      ("events.event_type", "events", "event_type"),
      ("orders.o_orderpriority", "orders", "o_orderpriority"))
    cols.map { case (label, tbl, c) =>
      s"""SELECT '$label' AS column_name, COUNT(*) AS n_distinct,
         |  CAST(MIN(nt) AS BIGINT) AS n_total,
         |  ${det6Sql("SUM(- (CAST(n AS DOUBLE) / CAST(nt AS DOUBLE)) " +
                      "* ln(CAST(n AS DOUBLE) / CAST(nt AS DOUBLE)))")} AS entropy_r,
         |  ${det6Sql("1.0 - SUM((CAST(n AS DOUBLE) / CAST(nt AS DOUBLE)) " +
                      "* (CAST(n AS DOUBLE) / CAST(nt AS DOUBLE)))")} AS gini_r
         |FROM (SELECT COUNT(*) AS n, SUM(COUNT(*)) OVER () AS nt
         |      FROM $tbl GROUP BY $c)""".stripMargin
    }.mkString("", "\nUNION ALL\n", "\nORDER BY column_name")
  }

  /** The link-prediction relation — the SQL twin of [[linkScores]] on top
    * of [[coPurchaseCte]]. Exposes `lnk(u, w, cn, aa_r, jacc_r)`.
    * MATERIALIZED: q_link_recs reads lnk twice (both directions).
    */
  private def linkCte: String =
    s"""$coPurchaseCte,
       |sym AS (SELECT u AS a, v AS b FROM edges
       |        UNION ALL SELECT v AS a, u AS b FROM edges),
       |deg AS MATERIALIZED (SELECT a, COUNT(*) AS deg FROM sym GROUP BY a),
       |capped_sym AS MATERIALIZED (
       |  SELECT a, b FROM (
       |    SELECT a, b, ROW_NUMBER() OVER (PARTITION BY a ORDER BY b) AS rn
       |    FROM sym) WHERE rn <= 64),
       |wedges AS (
       |  SELECT x.b AS u, x.a AS mid, y.b AS w
       |  FROM capped_sym x JOIN capped_sym y
       |    ON x.a = y.a AND x.b < y.b),
       |nonadj AS (
       |  SELECT wg.u, wg.mid, wg.w FROM wedges wg
       |  WHERE NOT EXISTS (
       |    SELECT 1 FROM edges e WHERE e.u = wg.u AND e.v = wg.w)),
       |scored AS MATERIALIZED (
       |  SELECT n.u, n.w, COUNT(*) AS cn, SUM(1.0 / ln(dv.deg)) AS aa
       |  FROM nonadj n JOIN deg dv ON dv.a = n.mid GROUP BY n.u, n.w),
       |lnk AS MATERIALIZED (
       |  SELECT s.u, s.w, s.cn, ROUND(s.aa, 6) AS aa_r,
       |    ${ratio6Sql("s.cn", "du.deg + dw.deg - s.cn")}
       |      AS jacc_r
       |  FROM scored s JOIN deg du ON du.a = s.u
       |    JOIN deg dw ON dw.a = s.w)""".stripMargin

  /** q_kcore's unrolled fixed-round peel (the ssspOracle convention —
    * exact integer counts, no rounding seam). Each CTE round drops
    * sub-k-degree nodes from the previous survivor set; every e{r} is
    * MATERIALIZED because rounds reference their predecessor several
    * times (degree union + two membership filters + the census) and a
    * 6-deep inlined chain re-evaluates exponentially (the hitsOracle
    * scalar-subquery blowup, pre-empted).
    */
  private def kcoreOracle: String = {
    val k = 3; val rounds = 6
    val body = (1 to rounds).map { r =>
      s""", alive$r AS MATERIALIZED (
         |  SELECT node FROM (
         |    SELECT node, COUNT(*) AS dg FROM (
         |      SELECT u AS node FROM e${r - 1}
         |      UNION ALL SELECT v AS node FROM e${r - 1}) un
         |    GROUP BY node) dd WHERE dg >= $k
         |), e$r AS MATERIALIZED (
         |  SELECT u, v FROM e${r - 1}
         |  WHERE u IN (SELECT node FROM alive$r)
         |    AND v IN (SELECT node FROM alive$r))""".stripMargin
    }.mkString
    val census = (0 to rounds).map { r =>
      s"""SELECT CAST($r AS BIGINT) AS round,
         |  (SELECT COUNT(*) FROM (SELECT u AS x FROM e$r
         |    UNION SELECT v FROM e$r) nx) AS n_nodes,
         |  (SELECT COUNT(*) FROM e$r) AS n_edges""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH $coPurchaseCte,
       |e0 AS MATERIALIZED (SELECT u, v FROM edges)""".stripMargin +
      body + "\n" + census + "\nORDER BY round"
  }

  private def ssspOracle: String = {
    val body = (1 to 4).map { k =>
      s""", d$k AS (
         |  SELECT node, MIN(dist) AS dist FROM (
         |    SELECT node, dist FROM d${k - 1}
         |    UNION ALL
         |    SELECT e.dst AS node, p.dist + e.w AS dist
         |    FROM edges e JOIN d${k - 1} p ON e.src = p.node) u
         |  GROUP BY node)""".stripMargin
    }.mkString
    s"""WITH pairs AS (
       |  SELECT 'c' || CAST(o_custkey AS VARCHAR) AS a,
       |         's' || CAST(l_suppkey AS VARCHAR) AS b,
       |    CAST(CASE WHEN COUNT(DISTINCT o_orderkey) >= 3 THEN 1
       |              WHEN COUNT(DISTINCT o_orderkey) = 2 THEN 2
       |              ELSE 3 END AS BIGINT) AS w
       |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
       |  GROUP BY 1, 2
       |), edges AS (
       |  SELECT a AS src, b AS dst, w FROM pairs
       |  UNION ALL SELECT b AS src, a AS dst, w FROM pairs
       |), seeds AS (
       |  SELECT DISTINCT 'c' || CAST(c_custkey AS VARCHAR) AS node
       |  FROM customer WHERE c_mktsegment = 'BUILDING'
       |), nodes AS (SELECT DISTINCT src AS node FROM edges
       |), d0 AS (
       |  SELECT n.node, CAST(0 AS BIGINT) AS dist
       |  FROM nodes n JOIN seeds s ON n.node = s.node)""".stripMargin +
      body + "\nSELECT node, dist FROM d4 ORDER BY node"
  }

  private def pprOracle: String =
    pagerankCtes(
      """seeds AS (
        |  SELECT DISTINCT 'c' || CAST(c_custkey AS VARCHAR) AS node,
        |         CAST(1 AS DOUBLE) AS w
        |  FROM customer WHERE c_mktsegment = 'BUILDING'
        |), seedsg AS (
        |  SELECT s.node, s.w FROM seeds s JOIN nodes n ON s.node = n.node
        |), sw AS (SELECT SUM(w) AS s FROM seedsg
        |), tele AS (
        |  SELECT n.node, COALESCE(sg.w, CAST(0 AS DOUBLE))/(SELECT s FROM sw) AS p
        |  FROM nodes n LEFT JOIN seedsg sg ON n.node = sg.node
        |)""".stripMargin,
      5) +
      """
        |SELECT node, ROUND(rank, 6) AS rank_r FROM r5
        |WHERE node LIKE 's%' ORDER BY node""".stripMargin
}
