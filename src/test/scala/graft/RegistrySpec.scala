package graft

import graft.operators.{AsofJoin, Dedup, Guarded}
import graft.streaming.EventStreams
import org.apache.spark.sql.functions._

/** Registry integrity + operator edge cases.
  *
  * The query registry is a Map derived from the modules' `Query`
  * declarations, which silently keeps only one of two equal names — a
  * name collision would silently drop a query from the verified surface.
  * Asserted impossible here.
  */
class RegistrySpec extends SparkTestBase {

  import spark.implicits._

  private val modules = Seq(
    "CoreQueries" -> graft.queries.CoreQueries.declarations,
    "RelationalQueries" -> graft.queries.RelationalQueries.declarations,
    "PipelineQueries" -> graft.queries.PipelineQueries.declarations,
    "TextQueries" -> graft.queries.TextQueries.declarations,
    "EventQueries" -> graft.queries.EventQueries.declarations,
    "SimilarityQueries" -> graft.queries.SimilarityQueries.declarations,
    "AnalyticsQueries" -> graft.queries.AnalyticsQueries.declarations)

  private def scalaFiles(d: java.io.File): Seq[java.io.File] =
    if (d.isDirectory) d.listFiles.toSeq.sortBy(_.getName).flatMap(scalaFiles)
    else if (d.getName.endsWith(".scala")) Seq(d) else Nil
  // drops // and (nested) /* */ comments; string and char literals are
  // copied through, so a "//" or quote inside one is not misread
  private def stripComments(t: String): String = {
    val out = new StringBuilder
    var i = 0
    val n = t.length
    while (i < n) {
      if (t.startsWith("//", i)) {
        while (i < n && t(i) != '\n') i += 1
      } else if (t.startsWith("/*", i)) {
        var depth = 0
        while (i < n && !(depth == 1 && t.startsWith("*/", i))) {
          if (t.startsWith("/*", i)) { depth += 1; i += 2 }
          else if (t.startsWith("*/", i)) { depth -= 1; i += 2 }
          else i += 1
        }
        i += 2
      } else if (t.startsWith("\"\"\"", i)) {
        val end = t.indexOf("\"\"\"", i + 3)
        val stop = if (end < 0) n else end + 3
        out ++= t.substring(i, stop)
        i = stop
      } else if (t(i) == '"') {
        out += t(i)
        i += 1
        while (i < n && t(i) != '"' && t(i) != '\n') {
          if (t(i) == '\\' && i + 1 < n) { out += t(i); i += 1 }
          out += t(i)
          i += 1
        }
      } else if (t(i) == '\'' && i + 2 < n && t(i + 2) == '\'') {
        out ++= t.substring(i, i + 3)
        i += 3
      } else if (t(i) == '\'' && i + 3 < n && t(i + 1) == '\\' && t(i + 3) == '\'') {
        out ++= t.substring(i, i + 4)
        i += 4
      } else {
        out += t(i)
        i += 1
      }
    }
    out.toString
  }
  private def read(f: java.io.File): String = {
    val src = scala.io.Source.fromFile(f, "UTF-8")
    try stripComments(src.mkString) finally src.close()
  }

  test("no query-name collisions across modules (++ merge would drop one)") {
    // counted over the declarations themselves, not the derived Map,
    // which would keep one of two equal names — a duplicate inside one
    // module is caught the same way as one across modules
    val all = modules.flatMap { case (m, qs) => qs.map(q => q.name -> m) }
    val dupes = all.groupBy(_._1).collect {
      case (k, v) if v.size > 1 => s"$k (${v.map(_._2).mkString(", ")})"
    }
    assert(dupes.isEmpty, s"duplicate query names: $dupes")
    assert(SparkEntry.queries.size == all.size)
  }

  test("every def in src/main has a non-comment reference besides its declaration (source scan)") {
    // an unused definition is code every reader still has to check. A
    // reference counts anywhere in the engine, test or perfbench sources,
    // string literals included; comments are stripped, so a scaladoc
    // link alone does not keep a definition alive. `override` defs are
    // called by their framework, and so are the names below, which
    // implement abstract members without the keyword (the JVM entry
    // point, Spark Aggregator's encoders).
    val frameworkCalled = Set("main", "bufferEncoder", "outputEncoder")
    val mainDir = new java.io.File("src/main/scala")
    assume(mainDir.isDirectory, "source dir not visible from test cwd")
    val mainTexts = scalaFiles(mainDir).map(read)
    val otherTexts = Seq("src/test/scala", "perfbench/src/main/scala")
      .flatMap(d => scalaFiles(new java.io.File(d))).map(read)
    val defRe = """\bdef\s+([A-Za-z_][A-Za-z0-9_]*)""".r
    val declared = mainTexts.flatMap { t =>
      defRe.findAllMatchIn(t).filterNot { m =>
        t.substring(t.lastIndexOf('\n', m.start) + 1, m.start).contains("override")
      }.map(_.group(1))
    }.toSet -- frameworkCalled
    val all = mainTexts ++ otherTexts
    // every `def name` is itself one occurrence of `name`: a name is used
    // iff it occurs more often than it is declared
    val declCount = all.flatMap(t => defRe.findAllMatchIn(t).map(_.group(1)))
      .groupBy(identity).map { case (k, v) => k -> v.size }
    val occurrences = all.flatMap(t =>
      "[A-Za-z_][A-Za-z0-9_]*".r.findAllIn(t).filter(declared))
      .groupBy(identity).map { case (k, v) => k -> v.size }
    val unused = declared.filter(d => occurrences(d) <= declCount(d)).toSeq.sorted
    assert(unused.isEmpty, s"definitions with no reference: ${unused.mkString(", ")}")
  }

  test("README surface ledger matches the registry and the test sources") {
    // the README's headline counts drifted twice (r16 VERDICT Wrong #3:
    // claimed 306 oracled / 18 exempt vs actual 305/19, 17 suites / 310
    // tests vs 20/420) — a ledger must be derived or asserted, so this
    // test pins the canonical "## Surface ledger" line to the live
    // registry and the test sources themselves
    val f = new java.io.File("README.md")
    assume(f.isFile, "README not visible from test cwd")
    val readme = {
      val src = scala.io.Source.fromFile(f, "UTF-8")
      try src.mkString finally src.close()
    }
    val pat = ("""(\d+) queries = (\d+) DuckDB-oracled \+ """ +
      """(\d+) rows-only exempt; (\d+) test suites / (\d+) tests""").r
    val m = pat.findFirstMatchIn(readme)
    assert(m.isDefined, "README surface-ledger line missing or malformed")
    val g = m.get
    val nq = SparkEntry.queries.size
    val ne = SparkEntry.oracleExempt.size
    assert(g.group(1).toInt == nq, s"README says ${g.group(1)} queries, registry has $nq")
    assert(g.group(2).toInt == nq - ne,
      s"README says ${g.group(2)} oracled, registry has ${nq - ne}")
    assert(g.group(3).toInt == ne, s"README says ${g.group(3)} exempt, registry has $ne")
    val specDir = new java.io.File("src/test/scala/graft")
    assume(specDir.isDirectory, "test source dir not visible from test cwd")
    val specs = specDir.listFiles.toSeq.filter(_.getName.endsWith("Spec.scala"))
    assert(g.group(4).toInt == specs.size,
      s"README says ${g.group(4)} suites, source has ${specs.size}")
    val nTests = specs.map { p =>
      val src = scala.io.Source.fromFile(p, "UTF-8")
      try "test\\(\"".r.findAllIn(src.mkString).length finally src.close()
    }.sum
    assert(g.group(5).toInt == nTests,
      s"README says ${g.group(5)} tests, source registers $nTests")
  }

  test("SparkSession.builder() occurs in src/main only inside Harness (source scan)") {
    // one session builder for every hand-run main: the place a shared
    // listener or a session setting attaches once
    val mainDir = new java.io.File("src/main/scala")
    assume(mainDir.isDirectory, "source dir not visible from test cwd")
    val builderRe = """SparkSession\s*\.\s*builder\b""".r
    val sites = scalaFiles(mainDir).flatMap(f =>
      builderRe.findAllIn(read(f)).map(_ => f.getPath).toSeq)
    val harness = "src/main/scala/graft/Harness.scala"
    assert(sites == Seq(harness),
      s"SparkSession.builder() outside Harness: ${sites.filterNot(_ == harness).mkString(", ")}")
  }

  test("append writes occur in src/main only inside Artifacts.append (source scan)") {
    // one append path, so no append-only directory gets its _SUCCESS
    // marker rewritten per batch. A .mode(...) whose argument is not a
    // literal non-append mode counts as an append too, so a mode passed
    // through a variable cannot hide one
    val mainDir = new java.io.File("src/main/scala")
    assume(mainDir.isDirectory, "source dir not visible from test cwd")
    val siteRe = """\.mode\s*\(([^)]*)\)|SaveMode\s*\.\s*Append\b""".r
    val nonAppend = Seq("overwrite", "ignore", "error", "errorifexists")
      .flatMap(m => Seq("\"" + m + "\"", "savemode." + m)).toSet
    val helperFile = "src/main/scala/graft/operators/Artifacts.scala"
    val sites = scalaFiles(mainDir).flatMap { f =>
      val t = read(f)
      // the helper's body: from its `def` to the next one
      val helper = if (f.getPath != helperFile) None
        else """\bdef\s+append\s*\(""".r.findFirstMatchIn(t).map { m =>
          m.start until """\bdef\s""".r.findFirstMatchIn(t.substring(m.end))
            .fold(t.length)(m.end + _.start)
        }
      siteRe.findAllMatchIn(t)
        .filter(m => Option(m.group(1)).forall(a =>
          !nonAppend(a.replaceAll("\\s", "").toLowerCase)))
        .map(m => (f.getName.stripSuffix(".scala"), helper.exists(_.contains(m.start))))
        .toSeq
    }
    val outside = sites.filterNot(_._2).groupBy(_._1)
      .map { case (n, v) => s"$n (${v.size})" }.toSeq.sorted
    assert(outside.isEmpty, s"append writes outside Artifacts.append: ${outside.mkString(", ")}")
    assert(sites.count(_._2) == 1, s"Artifacts.append holds ${sites.count(_._2)} append writes")
  }

  test("build memos and temp directories occur in src/main only in ContextMemo (source scan)") {
    // one build memo and one scratch root, deleted at JVM shutdown: a
    // hand-rolled memo or temp directory elsewhere leaks a directory
    // per process. Bridge holds the one forwarder to Spark's temp dir
    val mainDir = new java.io.File("src/main/scala")
    assume(mainDir.isDirectory, "source dir not visible from test cwd")
    val siteRe = """\b(TrieMap|WeakHashMap|createTempDirectory|createTempDir)\b""".r
    val sites = scalaFiles(mainDir).filterNot(_.getName == "ContextMemo.scala")
      .flatMap { f =>
        val t = read(f)
        // the forwarder's body: from its `def` to the next one
        val forwarder = if (f.getName != "Bridge.scala") None
          else """\bdef\s+createTempDir\b""".r.findFirstMatchIn(t).map { m =>
            m.start until """\bdef\s""".r.findFirstMatchIn(t.substring(m.end))
              .fold(t.length)(m.end + _.start)
          }
        siteRe.findAllMatchIn(t).filterNot(m => forwarder.exists(_.contains(m.start)))
          .map(_ => f.getName.stripSuffix(".scala")).toSeq
      }
    val outside = sites.groupBy(identity)
      .map { case (n, v) => s"$n (${v.size})" }.toSeq.sorted
    assert(outside.isEmpty,
      s"build memos or temp directories outside ContextMemo: ${outside.mkString(", ")}")
  }

  test("temp directories occur in src/test only in SparkTestBase (source scan)") {
    // SparkTestBase.tempDir's directories are deleted at JVM exit; a
    // suite that makes its own leaves one behind per run. This file's
    // scans name the calls in their patterns, so it is not scanned
    val testDir = new java.io.File("src/test/scala")
    assume(testDir.isDirectory, "source dir not visible from test cwd")
    val siteRe = """\bcreateTemp(Directory|Dir)\b""".r
    val outside = scalaFiles(testDir)
      .filterNot(f => Set("SparkTestBase.scala", "RegistrySpec.scala")(f.getName))
      .map(f => (f.getName.stripSuffix(".scala"), siteRe.findAllMatchIn(read(f)).size))
      .collect { case (n, k) if k > 0 => s"$n ($k)" }
    assert(outside.isEmpty, s"temp directories outside SparkTestBase: ${outside.mkString(", ")}")
  }

  test("ContextMemo builds once per (context, key) and writes each dir once under one scratch root") {
    import graft.queries.ContextMemo
    val sc = spark.sparkContext
    val key = s"memo_spec_${System.nanoTime}"
    var builds = 0
    def value(k: String): Int = ContextMemo(sc, k) { builds += 1; builds }
    assert(value(key) == 1 && value(key) == 1 && builds == 1)
    assert(value(key + "_b") == 2 && builds == 2)
    var writes = 0
    def dir(k: String): String = ContextMemo.dir(sc, k) { p =>
      writes += 1
      java.nio.file.Files.writeString(java.nio.file.Paths.get(p, "part"), k)
    }
    val d = dir(key)
    assert(dir(key) == d && writes == 1)
    val f = new java.io.File(d)
    assert(f.isDirectory && new java.io.File(f, "part").isFile)
    val other = new java.io.File(dir(key + "_b"))
    assert(writes == 2 && other != f && other.getParentFile == f.getParentFile)
    val root = f.getParentFile
    assert(root.getName.startsWith("graft_build") && root.getParentFile ==
      new java.io.File(System.getProperty("java.io.tmpdir")).getCanonicalFile)
  }

  test("oracled queries give identical rows at 3 and 8 shuffle partitions") {
    // a fixed sample of cheap oracled queries from every module, none of
    // which reads a memoized build (a memo built at one width would be
    // served at the other). Rows compare as sorted lists, the
    // order-insensitive compare of tools/check.py
    val sample = Seq("q_pop_top100", "q_pop_stats", "q_join_inner",
      "q_window_topk", "q_rollup", "q_eval_map_std", "q_eval_mrr",
      "q_token_count", "q_dedup_exact", "q_top_ngrams", "q_events_hourly",
      "q_events_sessions", "q_events_funnel", "q_cosine_topk",
      "q_embed_centroids", "q_tpch_q3", "q_stats_agg", "q_percentiles")
    sample.foreach(n => assert(!SparkEntry.oracleExempt.contains(n), n))
    assert(modules.forall(_._2.exists(q => sample.contains(q.name))))
    val key = "spark.sql.shuffle.partitions"
    val saved = spark.conf.get(key)
    def rows(width: Int): Seq[Seq[String]] = try {
      spark.conf.set(key, width.toString)
      sample.map(n => SparkEntry.queries(n)(spark, sf).collect().map(_.toString).toSeq.sorted)
    } finally spark.conf.set(key, saved)
    val (at3, at8) = (rows(3), rows(8))
    sample.indices.foreach(i => assert(at3(i) == at8(i), sample(i)))
  }

  test("Bench.reconcile substitutes only a >2x in-slot reading whose spread is tight") {
    // readings measured by hand; spread medians are the upper median
    val tight = Seq(1.0, 1.2, 1.1, 1.05, 1.15) // median 1.1, max 1.2 <= 1.7
    val lines = Seq("slow" -> 3.0, "loose" -> 3.0, "edge2x" -> 2.2,
      "edgeGate" -> 2.5, "failed" -> -1.0, "noSpread" -> 5.0, "fast" -> 1.0)
    val spreads = Map(
      "slow" -> tight,
      "loose" -> Seq(0.5, 1.0, 1.1, 1.2, 2.0), // max 2.0 > 1.5*0.5 + 0.2
      "edge2x" -> tight, // 2.2 is not MORE than 2 x 1.1
      "edgeGate" -> Seq(1.0, 1.1, 1.2, 1.7, 1.7), // max == 1.5*1.0 + 0.2
      "failed" -> tight, "fast" -> tight)
    val (adjusted, anomalies) = Bench.reconcile(lines, spreads)
    assert(anomalies == Seq(("slow", 3.0, 1.1), ("edgeGate", 2.5, 1.2)))
    assert(adjusted == Seq("slow" -> 1.1, "loose" -> 3.0, "edge2x" -> 2.2,
      "edgeGate" -> 1.2, "failed" -> -1.0, "noSpread" -> 5.0, "fast" -> 1.0))
  }

  test("Verify.jsonString round-trips every oracle SQL and control characters through a JSON parser") {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val strings = SparkEntry.oracleSql.toSeq.flatMap { case (k, v) => Seq(k, v) } :+
      "tab\tcr\rlf\nsoh\u0001quote\"backslash\\"
    strings.foreach { s =>
      assert(mapper.readValue(Verify.jsonString(s), classOf[String]) == s, s)
    }
  }

  test("no static oracle SQL holds a leftover interpolation marker") {
    // oracles are composed from shared fragments; a fragment spliced
    // into a """…""" that lost its `s` prefix reaches DuckDB as literal
    // `$name` / `${…}` text and would fail only in tools/check.py. A `$`
    // before `.` is a DuckDB JSON path ('$.k' in q_events_json and
    // q_events_variant), not a marker, so the pattern skips it.
    val marker = """\$(\{|[A-Za-z_])""".r
    val leftovers = SparkEntry.oracleSql.toSeq.sortBy(_._1).flatMap { case (k, v) =>
      marker.findFirstMatchIn(v).map(m => s"$k: ${v.slice(m.start, m.start + 40)}")
    }
    assert(leftovers.isEmpty, s"uninterpolated markers: ${leftovers.mkString("; ")}")
  }

  test("Soak.graphDecompJson writes each key once, at one scale and at three") {
    import scala.jdk.CollectionConverters._
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      .enable(com.fasterxml.jackson.core.JsonParser.Feature.STRICT_DUPLICATE_DETECTION)
    for ((maxN, eN, tN) <- Seq((1, 2888L, 0.5), (3, 9100L, 2.1))) {
      val line = s"""{"graph_decomp":{"pagerank":""" +
        Soak.graphDecompJson("trade_sym_edges", maxN, 2888L, eN, 0.5, tN) + "}}"
      val obj = mapper.readTree(line).get("graph_decomp").get("pagerank")
      val keys = obj.fieldNames().asScala.toSeq
      val scaled = Seq(1, maxN).distinct
      assert(keys == Seq("edge_kind") ++ scaled.map(n => s"edges_x$n") ++
        Seq("edge_ratio") ++ scaled.map(n => s"s_per_medge_x$n") ++
        Seq("per_edge_ratio", "verdict"), line)
      assert(obj.get(s"edges_x$maxN").asLong == eN, line)
      assert(obj.get("edge_ratio").asDouble == math.rint(eN / 2888.0 * 100) / 100, line)
    }
  }

  test("no-oracle queries are EXACTLY the declared exemptions, each with a reason") {
    // "no_oracle" in CORRECTNESS must stay a design decision, not an
    // omission: a query ships with an oracle (static OR model-literal
    // dynamic) or an explicit reason.
    val dynamic = SparkEntry.dynamicOracleSql(spark, sf).keySet
    assert((dynamic -- SparkEntry.queries.keySet).isEmpty,
      s"dynamic oracles without a query: ${dynamic -- SparkEntry.queries.keySet}")
    assert((dynamic & SparkEntry.oracleSql.keySet).isEmpty,
      s"dynamic oracle shadows a static one: ${dynamic & SparkEntry.oracleSql.keySet}")
    val noOracle =
      SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet -- dynamic
    val exempt = SparkEntry.oracleExempt.keySet
    assert((noOracle -- exempt).isEmpty,
      s"queries without oracle AND without exemption reason: ${noOracle -- exempt}")
    assert((exempt -- noOracle).isEmpty,
      s"stale exemptions (query now oracled or gone): ${exempt -- noOracle}")
    assert(SparkEntry.oracleExempt.values.forall(_.trim.nonEmpty))
  }

  test("every declared query's output is harness-sortable (no array/map/struct columns)") {
    // the driver's oracle harness sorts+hashes outputs via pandas, which
    // cannot sort container values — the r5 q_embed_centroids red row.
    // The repo convention is to SERIALIZE containers (concat_ws /
    // array_to_string); this asserts no future query ships a raw one.
    import org.apache.spark.sql.types.{ArrayType, MapType, StructType}
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        fn(spark, sf).schema.fields.collect {
          case f if f.dataType.isInstanceOf[ArrayType] ||
              f.dataType.isInstanceOf[MapType] ||
              f.dataType.isInstanceOf[StructType] =>
            s"$name.${f.name}: ${f.dataType.simpleString}"
        }
    }
    assert(offenders.isEmpty,
      s"queries emitting unsortable container columns: ${offenders.mkString("; ")}")
  }

  test("no declared query's output schema contains DecimalType (driver repr seam)") {
    // The driver renders Spark parquet decimal(38,0) and DuckDB
    // DECIMAL/HUGEINT differently (float64 "4250.0" vs integer "4250"),
    // so a decimal OUTPUT column hash-mismatches even when values are
    // identical — the r12 q_gopher_gate and r14 q_ks/q_mann_whitney red
    // rows, the ONLY red rows on the whole surface, were exactly the
    // only queries emitting decimals. Decimal arithmetic INSIDE a query
    // is fine (exact integer moments); the final select must cast to
    // BIGINT/DOUBLE/STRING. tools/check.py enforces the same contract
    // value-side (hard FAIL on any decimal.Decimal).
    import org.apache.spark.sql.types.DecimalType
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        fn(spark, sf).schema.fields.collect {
          case f if f.dataType.isInstanceOf[DecimalType] =>
            s"$name.${f.name}: ${f.dataType.simpleString}"
        }
    }
    assert(offenders.isEmpty,
      s"queries emitting DECIMAL output columns: ${offenders.mkString("; ")}")
  }

  test("asof joins tolerate an empty right side (all-null attach)") {
    val left = Seq((1L, 100L, "p")).toDF("user_id", "us", "name")
    val right = Seq.empty[(Long, Long, Long)].toDF("user_id", "us", "click_id")
    for (f <- Seq(AsofJoin.asofBackward _, AsofJoin.asofForward _)) {
      val out = f(left, right, "user_id", "us", "us",
        Map("click_id" -> "c"), "click_id")
      assert(out.count() == 1 && out.first().isNullAt(out.columns.indexOf("c")))
    }
  }

  test("interval join with no in-window partner emits nothing") {
    val a = Seq((1L, 1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00")))
      .toDF("user_id", "event_id", "ts")
    val b = Seq((1L, 2L, java.sql.Timestamp.valueOf("2024-01-01 05:00:00")))
      .toDF("user_id", "event_id", "ts")
    assert(EventStreams.intervalJoin(a, b, "10 minutes").count() == 0)
  }

  test("pinAll: a failing pin cancels its siblings' jobs; pins' jobs carry the caller's description") {
    import org.scalatest.concurrent.Eventually._
    import org.scalatest.time.SpanSugar._
    import scala.jdk.CollectionConverters._
    val sc = spark.sparkContext
    // (1) the sibling's job would run 120 s; its tasks end early only
    // when killed, so pinAll returning well before that, with no job
    // left active, means the job was cancelled and waited for
    val t0 = System.nanoTime()
    val err = intercept[IllegalStateException] {
      Guarded.pinAll(spark)(Seq(
        () => sc.parallelize(0 until 4, 4).map { i =>
          val ctx = org.apache.spark.TaskContext.get()
          val end = System.nanoTime() + 120L * 1000000000L
          while (!ctx.isInterrupted() && System.nanoTime() < end) Thread.sleep(20)
          i
        }.count(),
        () => {
          val end = System.nanoTime() + 60L * 1000000000L
          while (sc.statusTracker.getActiveJobIds.isEmpty && System.nanoTime() < end)
            Thread.sleep(20)
          throw new IllegalStateException("pin failed")
        }))
    }
    assert(err.getMessage == "pin failed")
    assert((System.nanoTime() - t0) / 1e9 < 60, "pinAll outlived the sibling's job")
    // the status store trails the scheduler by one listener-bus event
    eventually(timeout(5.seconds), interval(20.millis)) {
      assert(sc.statusTracker.getActiveJobIds.isEmpty)
    }
    // (2) a description the caller sets is on every job the pins run
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        seen.add((e.properties.getProperty("spark.job.tags", ""),
          e.properties.getProperty("spark.job.description")))
    }
    sc.addSparkListener(listener)
    sc.setJobDescription("pinAll probe")
    try {
      val counts = Guarded.pinAll(spark)(Seq(2, 3).map(n =>
        () => sc.parallelize(0 until n, n).count()))
      assert(counts == Seq(2L, 3L))
      def pinJobs = seen.asScala.filter(_._1.contains("graft-pinall-"))
      eventually(timeout(5.seconds), interval(20.millis)) {
        assert(pinJobs.size == 2)
      }
      assert(pinJobs.forall(_._2 == "pinAll probe"), pinJobs)
    } finally {
      sc.setJobDescription(null)
      sc.removeSparkListener(listener)
    }
  }

  test("an identical-doc cluster of 5 yields exactly C(5,2) minhash pairs") {
    val docs = (0 until 5).map(i => (i.toLong, "spark shuffles partition data across the cluster"))
      .toDF("doc_id", "text")
    val pairs = Dedup.minhashNearDups(docs, threshold = 0.99,
      nShingle = 3, bands = 8, rowsPerBand = 4)
    assert(pairs.count() == 10, "all 10 unordered pairs, each exactly once")
    assert(pairs.filter(col("jaccard") =!= 1.0).count() == 0)
  }

  test("hashSample is append-stable: a row's verdict ignores other rows") {
    val small = Seq((1L, 10L), (2L, 20L), (3L, 30L)).toDF("userId", "movieId")
    val big = (small.as[(Long, Long)].collect().toSeq ++
      (100 to 200).map(i => (i.toLong, i.toLong * 7))).toDF("userId", "movieId")
    val keys = Seq(col("userId"), col("movieId"))
    val keptSmall = graft.operators.Split.hashSample(small, keys, 0.5)
      .as[(Long, Long)].collect().toSet
    val keptBigOverlap = graft.operators.Split.hashSample(big, keys, 0.5)
      .as[(Long, Long)].collect().toSet
      .intersect(small.as[(Long, Long)].collect().toSet)
    assert(keptSmall == keptBigOverlap)
  }
}
