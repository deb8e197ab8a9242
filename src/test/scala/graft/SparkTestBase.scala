package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared session for the whole test run (object-level lazy —
  * per-suite sessions would pay JVM+codegen warmup repeatedly).
  */
object SparkTestBase {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
  val sf: String = "/root/testdata/sf0.001"

  /** A fresh directory under `java.io.tmpdir` whose name starts with
    * `prefix`, deleted when the JVM exits (Spark's `Utils.createTempDir`
    * through `Bridge.createTempDir`). Every scratch directory of the
    * suites comes from here, so a test run leaves none behind.
    */
  def tempDir(prefix: String): java.nio.file.Path =
    org.apache.spark.sql.graftbridge.Bridge.createTempDir(prefix).toPath
}

trait SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestBase.spark
  def sf: String = SparkTestBase.sf
  def tempDir(prefix: String): java.nio.file.Path = SparkTestBase.tempDir(prefix)
}
