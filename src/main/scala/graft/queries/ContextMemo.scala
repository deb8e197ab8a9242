package graft.queries

import org.apache.spark.SparkContext
import org.apache.spark.sql.graftbridge.Bridge

/** The one build memo of the engine: every "build once per scale dir,
  * then reuse" value (fitted models, checkpointed relations) and every
  * directory written once (media tables, at-rest indexes, bucketed
  * tables) goes through here, and so does every scratch directory a
  * main writes.
  *
  * Entries are keyed by (SparkContext, key) in one concurrent map and
  * live for the process: a cached DataFrame holds its session and
  * through it the context, so no weak key could ever be collected. A
  * new context never sees another context's entries. Two racing first
  * calls may both build; one result is kept.
  *
  * Directories live under one per-process scratch root made by Spark's
  * `Utils.createTempDir`, which deletes it at JVM shutdown.
  */
private[graft] object ContextMemo {
  private val memo =
    scala.collection.concurrent.TrieMap.empty[(SparkContext, String), Any]

  def apply[T](sc: SparkContext, key: String)(build: => T): T =
    memo.getOrElseUpdate((sc, key), build).asInstanceOf[T]

  private lazy val root = Bridge.createTempDir("graft_build")
  private val made = new java.util.concurrent.atomic.AtomicLong

  /** A fresh directory under the scratch root, made and filled by
    * `write` on the first call for (sc, key); later calls return it.
    */
  def dir(sc: SparkContext, key: String)(write: String => Unit): String =
    apply(sc, s"dir:$key") {
      val d = new java.io.File(root,
        s"${made.incrementAndGet()}_${key.replaceAll("[^A-Za-z0-9.]+", "_")}")
      d.mkdirs()
      write(d.getPath)
      d.getPath
    }
}
