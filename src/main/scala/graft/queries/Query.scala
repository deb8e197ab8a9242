package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One named query: its plan, its oracle and whether [[graft.Bench]]
  * times it in the headline section. Each module declares its queries
  * as one `Seq[Query]`; [[graft.SparkEntry]] and [[graft.Bench]] derive
  * every registry from the concatenation, so a query is written exactly
  * once and cannot exist without its oracle decision.
  */
final case class Query(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracle: Oracle,
    headline: Boolean = true)

/** How a query's output is checked against DuckDB (SURVEY §7.4). */
sealed trait Oracle

/** Equivalent ANSI SQL runnable by DuckDB on the same parquet tables. */
final case class Sql(text: String) extends Oracle

/** Oracle SQL that embeds a FITTED model's parameters as literals, so it
  * needs a live session and scale dir; Verify generates it at dump time
  * next to the static oracles. The fits are deterministic (pinned
  * single-partition inputs — the KMeans lesson), so the embedded
  * literals are a pure function of (corpus, config) and the replay is a
  * true cross-engine oracle, not an echo.
  */
final case class Fitted(gen: (SparkSession, String) => String) extends Oracle

/** No oracle, by design: the reason names the non-oracle coverage
  * (scalatest band / invariant / determinism check).
  */
final case class Exempt(reason: String) extends Oracle
