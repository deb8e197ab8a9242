package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Bucketed-table co-location — the storage-level shuffle eliminator.
  *
  * A fact⋈fact equi-join (lineitem⋈orders on orderkey) can never
  * broadcast at 100 TB; the default plan shuffles BOTH sides on the key,
  * every time any query joins them. Writing each side ONCE as a bucketed
  * table (`bucketBy(n, key).sortBy(key)`) pre-hashes rows into n
  * key-colocated buckets at rest, so every subsequent join or aggregate
  * on that key reads both sides already co-partitioned: the scan itself
  * reports `HashPartitioning(key, n)` and the sort-merge join planner
  * drops the Exchange on both sides. Amortized over a query fleet this
  * is the single biggest shuffle saver a warehouse layout offers
  * (bucket counts must MATCH across tables meant to join; pick n as a
  * divisor-friendly multiple of the cluster's parallelism).
  *
  * Tables are external (explicit `path`), so the parquet outlives the
  * session catalog; re-registration after a restart is one idempotent
  * [[ensureBucketedTable]] call per table.
  */
object Bucketing {

  /** Idempotently create bucketed table `table` at `path` from `df`
    * (no-op when the session catalog already has it AND its data still
    * exists). Returns `table`.
    *
    * The existence check is catalog + STORAGE: with a persistent
    * metastore, a stale catalog entry can outlive its data directory
    * (e.g. a prior process registered a temp path that was deleted on
    * exit) — trusting the catalog alone would serve empty or failing
    * scans forever. A registered table whose path is missing or empty
    * is dropped and rebuilt.
    */
  def ensureBucketedTable(s: SparkSession, df: => DataFrame, table: String,
      path: String, key: String): String = {
    if (s.catalog.tableExists(table)) {
      // resolve through the PUBLIC catalog API first: tableExists is
      // true for temp views too, and getTableMetadata on an unqualified
      // temp-view name throws instead of answering. A view has no
      // storage to go stale — leave it untouched (the name is taken by
      // other tooling; rebuilding a shadowed persistent table under it
      // would not be the relation scans resolve anyway).
      val entry = s.catalog.getTable(table)
      if (entry.tableType == "VIEW" || entry.tableType == "TEMPORARY" ||
          entry.tableType == "TEMP") return table
      // check the location the CATALOG registered, not the `path`
      // argument — after a restart the caller's fresh temp path and
      // the cataloged location legitimately differ, and it is the
      // cataloged one the scans will read; qualify with the cataloged
      // database so a non-default current database cannot misresolve
      val registered = s.sessionState.catalog
        .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(
          entry.name, Option(entry.database)))
        .location
      val p = new org.apache.hadoop.fs.Path(registered)
      val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      // require at least one DATA file — a directory holding only
      // marker/metadata leftovers (_SUCCESS after a partial cleanup)
      // is as stale as a missing one and must trigger the rebuild.
      // Top-level check only: this builder always writes the FLAT
      // non-partitioned layout, so data files sit directly under the
      // location; a nested/partitioned table registered under this
      // name by other tooling would read as stale and be rebuilt flat
      if (!fs.exists(p) || !fs.listStatus(p).exists { st =>
            val n = st.getPath.getName
            st.isFile && !n.startsWith("_") && !n.startsWith(".")
          })
        s.sql(s"DROP TABLE IF EXISTS $table")
    }
    if (!s.catalog.tableExists(table)) {
      df.write.mode("overwrite").format("parquet")
        .bucketBy(8, key).sortBy(key)
        .option("path", path).saveAsTable(table)
    }
    table
  }
}
