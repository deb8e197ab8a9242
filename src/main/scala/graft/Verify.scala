package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  /** JSON string literal: escapes backslash, quote, and ALL control
    * chars (<0x20) — a tab or CR in builder-authored SQL would otherwise
    * make the driver's json.load fail and silently zero the round's
    * correctness.
    */
  def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def main(args: Array[String]): Unit = {
    // args: sfDir outDir [queryName ...] — names (debug aid) restrict the
    // dump to those queries; no names = all queries (the driver contract)
    val (sfDir, outDir) = (args(0), args(1))
    val only = args.drop(2).toSet
    val unknown = (only -- SparkEntry.queries.keySet).toSeq.sorted
    if (unknown.nonEmpty) {
      System.err.println(s"[verify] unknown query names: ${unknown.mkString(", ")}")
      sys.exit(2)
    }
    val spark = Harness.session()
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // static oracles + the model-literal oracles generated against THIS
    // session/scale (deterministic fits — the `Fitted` declarations)
    val dynamic =
      try SparkEntry.dynamicOracleSql(spark, sfDir)
      catch { case e: Throwable =>
        System.err.println(s"[verify] dynamic oracle generation failed: " +
          s"${e.getMessage}")
        Map.empty[String, String]
      }
    val json = (SparkEntry.oracleSql ++ dynamic)
      .map { case (k, v) => s"${jsonString(k)}: ${jsonString(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
