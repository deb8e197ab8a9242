package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Declarative data-quality checks — the expectations gate every
  * training-data ingest runs before a table is allowed downstream.
  *
  * Scale shape: all row-level constraints are evaluated in ONE pass over
  * the relation (a single aggregate of `sum(when(!p, 1))` columns — never
  * one scan per check), then unpivoted to the long (check, n_bad) report
  * form. Referential checks left-join the child against the DISTINCT
  * parent keys (parent side reduces before the join; broadcast when the
  * key set is small).
  */
object DataQuality {

  /** One row per named constraint: (check, n_bad, n_rows). Violations are
    * rows where the predicate is NOT true (false OR null — a null
    * comparison is a violation, matching SQL's "constraint not satisfied"
    * semantics rather than silently passing nulls).
    */
  def constraintReport(df: DataFrame, constraints: Seq[(String, Column)]): DataFrame = {
    val aggs = constraints.map { case (name, p) =>
      sum(when(coalesce(p, lit(false)), 0L).otherwise(1L)).as(name)
    } :+ count(lit(1)).as("__n")
    df.agg(aggs.head, aggs.tail: _*)
      .unpivot(Array(col("__n")), constraints.map(c => col(c._1)).toArray,
        "check", "n_bad")
      .select(col("check"), col("n_bad"), col("__n").as("n_rows"))
  }

  /** Referential check in [[constraintReport]]'s row shape
    * (check, n_bad, n_rows), via ONE pass over the child (left join +
    * conditional sum rather than an anti join plus a second count scan).
    */
  def referentialReport(child: DataFrame, childKey: String,
      parent: DataFrame, parentKey: String, name: String): DataFrame =
    child.select(col(childKey))
      .join(parent.select(col(parentKey).as(childKey)).distinct()
        .withColumn("__hit", lit(1)), Seq(childKey), "left")
      .agg(
        sum(when(col("__hit").isNull, 1L).otherwise(0L)).as("n_bad"),
        count(lit(1)).as("n_rows"))
      .select(lit(name).as("check"), col("n_bad"), col("n_rows"))

  /** Snapshot diff — the dataset-version comparison a curation run does
    * before publishing: classify every key as `added` / `removed` /
    * `changed` / `unchanged` between two corpus snapshots by comparing a
    * caller-chosen fingerprint expression (pass `md5(col("text"))`, not
    * the payload itself, so the wide column never ships through the
    * join). Output: (key, status).
    *
    * Scale shape: ONE full-outer shuffle join on the key, ids +
    * fingerprints only — both sides are corpus-sized, so neither
    * broadcasts; with both snapshots bucketed by the key the join plans
    * exchange-free. This is the table-format snapshot diff (what
    * iceberg/delta changelogs give you) computed as a co-partitioned
    * join when no row-level log exists.
    */
  def snapshotDiff(oldDf: DataFrame, newDf: DataFrame, key: String,
      fingerprint: Column): DataFrame = {
    val o = oldDf.select(col(key), fingerprint.as("__fp_old"))
    val n = newDf.select(col(key), fingerprint.as("__fp_new"))
    o.join(n, Seq(key), "full_outer")
      .select(col(key),
        when(col("__fp_old").isNull, lit("added"))
          .when(col("__fp_new").isNull, lit("removed"))
          .when(col("__fp_old") === col("__fp_new"), lit("unchanged"))
          .otherwise(lit("changed")).as("status"))
  }

  /** Cross-source duplication report — per source: total docs, docs with
    * a content twin ANYWHERE in the corpus (`n_dup`), and docs with a
    * twin in a DIFFERENT source (`n_cross_src`). The provenance-leakage
    * number that decides whether per-source mix weights are meaningful.
    *
    * Scale shape: one fingerprint shuffle for the per-fp stats, rejoined
    * on the same key (exchange-reusable — both sides hash-partition on
    * the fingerprint); ids + fingerprints only, never the payload.
    */
  def crossSourceDups(df: DataFrame, source: Column,
      fingerprint: Column): DataFrame = {
    val fps = df.select(source.as("source"), fingerprint.as("__fp"))
    val stats = fps.groupBy(col("__fp")).agg(
      count(lit(1)).as("__n_fp"),
      count_distinct(col("source")).as("__n_src"))
    fps.join(stats, Seq("__fp"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("__n_fp") > 1, 1L).otherwise(0L)).as("n_dup"),
        sum(when(col("__n_src") > 1, 1L).otherwise(0L)).as("n_cross_src"))
  }
}
