package graft
import graft.queries._
import org.apache.spark.sql.{SparkSession, DataFrame}
/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q_pop_top100")(spark, "/root/testdata/sf0.001")
  /** Every query, as its module declares it, in module order. */
  def declarations: Seq[Query] =
    CoreQueries.declarations ++ RelationalQueries.declarations ++
      PipelineQueries.declarations ++ TextQueries.declarations ++
      EventQueries.declarations ++ SimilarityQueries.declarations ++
      AnalyticsQueries.declarations

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    declarations.map(q => q.name -> q.run).toMap

  /** Oracles whose SQL embeds a FITTED model's parameters as literals —
    * they need a live SparkSession + scale dir, so Verify generates them
    * at dump time and merges them into oracle_sql.json next to
    * [[oracleSql]].
    */
  def dynamicOracleSql(spark: SparkSession, sfDir: String): Map[String, String] =
    declarations.collect { case Query(n, _, Fitted(gen), _) => n -> gen(spark, sfDir) }.toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    declarations.collect { case Query(n, _, Sql(text), _) => n -> text }.toMap

  /** Every query with neither a static nor a fitted oracle, with the
    * reason the omission is a design decision (SURVEY §7.4) rather than
    * a gap. Each reason also names the non-oracle coverage (scalatest
    * band / invariant / determinism check).
    */
  lazy val oracleExempt: Map[String, String] =
    declarations.collect { case Query(n, _, Exempt(reason), _) => n -> reason }.toMap
}
