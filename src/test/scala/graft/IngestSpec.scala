package graft

import graft.operators.{Eval, Popularity, Recommend}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import java.nio.file.Files

/** Ingest parity (SURVEY §2.1 S1/S2/S4/S5): headered + headerless CSV with
  * schema-at-scan, positional rename, CSV/parquet sinks round-trip; plus
  * the approx-percentile popularity variant and the mllib-vs-column MAP
  * equality cross-check.
  */
class IngestSpec extends SparkTestBase {

  import spark.implicits._

  test("fixture-drift canary: all 10 real tables load via Tables.* with contract types") {
    // Loads the REAL /root/testdata fixture (not synthetic frames) so a
    // driver-side regeneration that changes physical types turns into a
    // named red test here instead of a mid-harness surprise (round-8
    // verdict: the events ns→µs regen broke 14 queries silently).
    def typesOf(df: org.apache.spark.sql.DataFrame): Map[String, DataType] =
      df.schema.fields.map(f => f.name -> f.dataType).toMap
    def isTs(t: DataType): Boolean =
      t == TimestampType || t == TimestampNTZType

    val checks: Seq[(String, org.apache.spark.sql.DataFrame, Map[String, DataType => Boolean])] = Seq(
      ("region", Tables.region(spark, sf), Map(
        "r_regionkey" -> (_ == IntegerType), "r_name" -> (_ == StringType))),
      ("nation", Tables.nation(spark, sf), Map(
        "n_nationkey" -> (_ == IntegerType), "n_name" -> (_ == StringType),
        "n_regionkey" -> (_ == IntegerType))),
      ("customer", Tables.customer(spark, sf), Map(
        "c_custkey" -> (_ == LongType), "c_nationkey" -> (_ == IntegerType),
        "c_acctbal" -> (_ == DoubleType), "c_mktsegment" -> (_ == StringType))),
      ("supplier", Tables.supplier(spark, sf), Map(
        "s_suppkey" -> (_ == LongType), "s_acctbal" -> (_ == DoubleType))),
      ("part", Tables.part(spark, sf), Map(
        "p_partkey" -> (_ == LongType), "p_size" -> (_ == IntegerType),
        "p_retailprice" -> (_ == DoubleType))),
      ("orders", Tables.orders(spark, sf), Map(
        "o_orderkey" -> (_ == LongType), "o_custkey" -> (_ == LongType),
        "o_totalprice" -> (_ == DoubleType), "o_orderdate" -> isTs _)),
      ("lineitem", Tables.lineitem(spark, sf), Map(
        "l_orderkey" -> (_ == LongType), "l_partkey" -> (_ == LongType),
        "l_quantity" -> (_ == DoubleType), "l_shipdate" -> isTs _)),
      // events.ts is the LOADER's contract, not the fixture's: whatever
      // precision the fixture ships (ns-as-long or µs, tz'd or not), the
      // loader must emit session-zoned TimestampType.
      ("events", Tables.events(spark, sf), Map(
        "event_id" -> (_ == LongType), "ts" -> (_ == TimestampType),
        "user_id" -> (_ == LongType), "event_type" -> (_ == StringType),
        "value" -> (_ == DoubleType), "props" -> (_ == StringType))),
      ("documents", Tables.documents(spark, sf), Map(
        "doc_id" -> (_ == LongType), "text" -> (_ == StringType),
        "lang" -> (_ == StringType), "source" -> (_ == StringType),
        "n_chars" -> (_ == LongType))),
      ("embeddings", Tables.embeddings(spark, sf), Map(
        "vec_id" -> (_ == LongType),
        "embedding" -> (t => t == ArrayType(FloatType) || t == ArrayType(FloatType, containsNull = true)),
        "label" -> (_ == IntegerType))))

    checks.foreach { case (name, df, expect) =>
      val actual = typesOf(df)
      expect.foreach { case (colName, ok) =>
        assert(actual.contains(colName), s"$name: missing column $colName (has ${actual.keys.toSeq.sorted})")
        assert(ok(actual(colName)), s"$name.$colName: unexpected type ${actual(colName)}")
      }
      // A real read, not just a schema probe — catches value-level decode errors.
      assert(df.limit(1).count() == 1L, s"$name: empty or unreadable at sf0.001")
    }

    // The derived ratings view must still produce its published shape.
    val r = typesOf(Tables.ratings(spark, sf))
    assert(r("userId") == LongType && r("movieId") == LongType && r("rating") == DoubleType)
    assert(isTs(r("ts")))
  }

  test("CSV round-trip: headered write → schema-at-scan read (S1/S5)") {
    val dir = tempDir("graft_csv").toString
    val src = Seq((1, 10, 4.5, 111), (2, 20, 3.0, 222))
      .toDF("userId", "movieId", "rating", "timestamp")
      .select(col("userId"), col("movieId"),
        col("rating").cast("double"), col("timestamp"))
    src.write.mode("overwrite").option("header", "true").csv(s"$dir/headered")
    val back = Tables.readCsv(spark, s"$dir/headered",
      Tables.movieLensRatingsSchema, header = true)
    assert(back.schema == Tables.movieLensRatingsSchema)
    assert(back.exceptAll(
      src.select(col("userId").cast("int"), col("movieId").cast("int"),
        col("rating"), col("timestamp").cast("int"))).count() == 0)
  }

  test("corrupt-record handling: PERMISSIVE quarantines, FAILFAST raises") {
    // at 100 TB some rows WILL be malformed; the ingest contract is
    // explicit: PERMISSIVE null-fills + captures the raw line in
    // _corrupt_record for quarantine, FAILFAST turns the batch red.
    val dir = tempDir("graft_corrupt").toString
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/in.csv"),
      "1,2.5\n2,not_a_double\n3,4.0\n")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("v", org.apache.spark.sql.types.DoubleType),
      org.apache.spark.sql.types.StructField("_corrupt_record", org.apache.spark.sql.types.StringType)))
    val perm = spark.read.schema(schema)
      .option("mode", "PERMISSIVE").option("columnNameOfCorruptRecord", "_corrupt_record")
      .csv(s"$dir/in.csv").cache()
    try {
      assert(perm.count() == 3)
      val bad = perm.filter(col("_corrupt_record").isNotNull)
      assert(bad.count() == 1 && bad.first().getString(2).contains("not_a_double"))
      assert(perm.filter(col("_corrupt_record").isNull).count() == 2)
      val ff = spark.read.schema(
        org.apache.spark.sql.types.StructType(schema.dropRight(1)))
        .option("mode", "FAILFAST").csv(s"$dir/in.csv")
      intercept[org.apache.spark.SparkException](ff.collect())
    } finally perm.unpersist()
  }

  test("headerless CSV + positional rename (S2/S4)") {
    val dir = tempDir("graft_csv2").toString
    Seq((5, 50, 2.5, 999)).toDF("a", "b", "c", "d")
      .write.mode("overwrite").csv(s"$dir/bare")
    // the reference's idiom: read positionally, rename with toDF, cast
    val back = spark.read.csv(s"$dir/bare")
      .toDF("userId", "movieId", "rating", "timestamp")
      .withColumn("userId", col("userId").cast("integer"))
      .withColumn("rating", col("rating").cast("double"))
    val r = back.first()
    assert(r.getInt(0) == 5 && r.getDouble(2) == 2.5)
  }

  test("parquet sink round-trip preserves types (engine default sink)") {
    val dir = tempDir("graft_pq").toString
    val src = Tables.ratings(spark, sf).limit(100)
    src.write.mode("overwrite").parquet(s"$dir/r")
    val back = spark.read.parquet(s"$dir/r")
    assert(back.schema == src.schema)
    assert(back.count() == 100)
  }

  test("ORC and JSON sinks round-trip (S5 generalization)") {
    val dir = tempDir("graft_sink").toString
    val src = Tables.ratings(spark, sf).limit(50)
    src.write.mode("overwrite").orc(s"$dir/orc")
    src.write.mode("overwrite").json(s"$dir/json")
    assert(spark.read.orc(s"$dir/orc").count() == 50)
    // JSON round-trip: schema-on-read needs the explicit schema for types
    val back = spark.read.schema(src.schema).json(s"$dir/json")
    assert(back.count() == 50)
    assert(back.exceptAll(src).count() == 0)
  }

  test("binaryFile source: media bytes arrive schema'd and whole") {
    val dir = tempDir("graft_bin")
    val payloads = Map("a.bin" -> Array[Byte](1, 2, 3),
      "b.bin" -> Array.tabulate[Byte](256)(_.toByte))
    payloads.foreach { case (n, bytes) =>
      Files.write(dir.resolve(n), bytes)
    }
    val df = spark.read.format("binaryFile").load(dir.toString)
    assert(df.columns.toSet == Set("path", "modificationTime", "length", "content"))
    val back = df.select(element_at(split(col("path"), "/"), -1).as("name"),
      col("content")).collect()
      .map(r => r.getString(0) -> r.getAs[Array[Byte]](1)).toMap
    assert(back.keySet == payloads.keySet)
    payloads.foreach { case (n, bytes) =>
      assert(java.util.Arrays.equals(back(n), bytes), s"bytes of $n")
    }
  }

  test("text source: one row per line, pipelines into the doc operators") {
    val dir = tempDir("graft_txt").toString
    Seq("The quick brown fox", "hello world hello").toDF("value")
      .write.mode("overwrite").text(dir)
    val docs = spark.read.text(dir)
      .select(monotonically_increasing_id().as("doc_id"), col("value").as("text"))
    val toks = docs.select(graft.functions.TextStats.text_stats(col("text")).as("st"))
      .select(col("st.n_tokens")).as[Long].collect().sorted
    assert(toks.toSeq == Seq(3L, 4L))
  }

  test("typed Dataset[Rating] surface agrees with the DataFrame view") {
    val ds = Tables.ratingsDs(spark, sf)
    val viaDs = ds.filter(_.rating >= 4.5).count()
    val viaDf = Tables.ratings(spark, sf).filter(col("rating") >= 4.5).count()
    assert(viaDs == viaDf && viaDs > 0)
  }

  test("MeanScore Aggregator equals direct mean of scores (U2 typed form)") {
    import spark.implicits._
    val pairs = Seq(
      (Seq(1, 2, 3), Seq(2, 99)),
      (Seq(1, 2, 3), Seq(1)),
      (Seq(5, 5, 7), Seq(5)))
    val agg = new Eval.MeanScore(Eval.referenceMapScore)
    val got = pairs.toDS().select(agg.toColumn).first()
    val want = pairs.map { case (t, l) => Eval.referenceMapScore(t, l) }.sum / pairs.size
    assert(math.abs(got - want) < 1e-12)
  }

  test("ALS with full reference hyperparameters (rank=100, maxIter=3, reg=0.15)") {
    val ratings = Tables.ratings(spark, sf)
    val b = pmod(xxhash64(lit(7), col("userId"), col("movieId")), lit(10))
    val train = ratings.filter(b < 8)
    val test0 = ratings.filter(b >= 8)
    val model = Recommend.train(train, Recommend.AlsConfig()) // reference defaults
    val rmse = Eval.rmse(Recommend.predict(model, test0)).first().getDouble(0)
    assert(!rmse.isNaN && rmse > 0.0 && rmse < 3.0, s"rmse $rmse")
  }

  test("topMoviesApprox ≈ topMovies (A3 percentile_approx variant)") {
    val ratings = Tables.ratings(spark, sf)
    val exact = Popularity.topMovies(ratings, 0.9, 20).select("movieId")
      .as[Long].collect().toSet
    val approx = Popularity.topMoviesApprox(ratings, 0.9, 20).select("movieId")
      .as[Long].collect().toSet
    // sketch accuracy 10000 on this cardinality → same cutoff, same set
    assert((exact intersect approx).size >= 18,
      s"approx diverged: ${exact.diff(approx)}")
  }

  test("mllib RankingMetrics agrees with the column-expression MAP@k (M7)") {
    val ratings = Tables.ratings(spark, sf)
    val train = ratings.filter(pmod(col("movieId"), lit(10)) < 6)
    val v = ratings.filter(pmod(col("movieId"), lit(10)).isin(6, 7))
    val dedup = train.groupBy(col("userId"), col("movieId"))
      .agg(avg(col("rating")).as("r"))
    val recs = Recommend.topKPerKey(dedup, "userId",
      Seq(col("r").desc, col("movieId")), 10)
      .select(col("userId"), col("movieId"), col("rank"))
    val colForm = Eval.standardMapAtK(v, recs, 10).first().getDouble(0)
    val mllibForm = Eval.rankingMetricsMapAtK(v, recs, 10).first().getDouble(0)
    assert(math.abs(colForm - mllibForm) < 1e-4,
      s"column=$colForm mllib=$mllibForm")
  }

  test("approx_count_distinct within rsd tolerance of exact (HLL, A8 scale path)") {
    val li = Tables.lineitem(spark, sf)
    val r = li.agg(
      approx_count_distinct(col("l_partkey"), 0.02).as("a"),
      countDistinct(col("l_partkey")).as("e")).first()
    val (a, e) = (r.getLong(0).toDouble, r.getLong(1).toDouble)
    assert(math.abs(a - e) / e < 0.05, s"approx $a exact $e")
  }

  test("declared q_als_ref_rmse runs the reference flagship config end-to-end") {
    // published MovieLens RMSE at this config was 0.87-0.90
    // (Checkpoint_results.md:13); the synthetic ratings have different
    // variance so the assertion is a sanity band around the measured
    // value, with the config columns checked exactly.
    val r = SparkEntry.queries("q_als_ref_rmse")(spark, sf).first()
    assert(r.getInt(0) == 100 && r.getInt(1) == 3 &&
      math.abs(r.getDouble(2) - 0.15) < 1e-12)
    // measured 1.59 at sf0.001: the synthetic ratings carry little
    // user-item signal, so RMSE sits near the rating stddev rather than
    // the MovieLens 0.87-0.90 — the band guards fit sanity, not parity
    val rmse = r.getDouble(3)
    assert(!rmse.isNaN && rmse > 0.1 && rmse < 2.0, s"rmse $rmse")
  }

  test("flagship ALS MAP@100 band (als.py config; final_report_numbers.md:7)") {
    // the reference's headline ranking metric: MAP@100 of flagship-config
    // recs vs held-out interactions (published 1.5651e-5 small run,
    // final_report_numbers.md:7; 3.13e-5 checkpoint run,
    // Checkpoint_results.md:14). The synthetic fixture's catalog is 200
    // items vs MovieLens 27k, so a 100-item rec list covers half the
    // catalog and MAP lands orders of magnitude higher — the band guards
    // the fit→recommend→MAP lifecycle at the exact published config, not
    // MovieLens value parity (same stance as the RMSE band above). The
    // MAP math itself is DuckDB-oracled via q_eval_map_std.
    val r = Tables.ratings(spark, sf)
    val b = pmod(xxhash64(lit(7), col("userId"), col("movieId")), lit(10))
    val (train, test) = (r.filter(b < 8), r.filter(b >= 8))
    val model = Recommend.train(train, Recommend.AlsConfig()) // rank=100/iter=3/reg=.15
    val recs = Recommend.recommendTopK(model, 100)
      .select(col("userId"), col("movieId"), col("rank"))
    val map = Eval.standardMapAtK(test, recs, 100).first().getDouble(0)
    assert(!map.isNaN && map > 1e-5 && map <= 1.0, s"map@100 $map")
  }

  test("reference 5-fold CV (als.py:58): the folds axis at full depth (M6)") {
    // the 4x4-grid test below exercises the reference grid at 2 folds for
    // cost; this one runs the PUBLISHED numFolds=5 on a 2x2 sub-grid
    // (20 fits) so the fold axis itself is tested at reference depth.
    val ratings = Tables.ratings(spark, sf)
      .groupBy(col("userId"), col("movieId")).agg(avg(col("rating")).as("rating"))
    val cv = Recommend.crossValidate(ratings,
      ranks = Seq(10, 50), regParams = Seq(0.05, 0.15), numFolds = 5,
      cfg = Recommend.AlsConfig(maxIter = 2))
    assert(cv.avgMetrics.length == 4, s"grid ran ${cv.avgMetrics.length} configs")
    assert(cv.avgMetrics.forall(m => !m.isNaN && m > 0.0))
    val als = cv.getEstimator.asInstanceOf[org.apache.spark.ml.recommendation.ALS]
    val bestMap = cv.getEstimatorParamMaps(cv.avgMetrics.indexOf(cv.avgMetrics.min))
    assert(Recommend.bestAls(cv).rank == bestMap(als.rank))
  }

  test("reference CV tuning path: 4x4 grid end-to-end, reduced folds (M6)") {
    // als.py:53-80 runs rank {10,50,100,150} x regParam {.01,.05,.1,.15}
    // x 5 folds = 80 fits; same grid here with 2 folds at sf0.001 — the
    // full tuning path exercised, typed best-param readback asserted.
    val ratings = Tables.ratings(spark, sf)
      .groupBy(col("userId"), col("movieId")).agg(avg(col("rating")).as("rating"))
    val cv = Recommend.crossValidate(ratings,
      ranks = Seq(10, 50, 100, 150),
      regParams = Seq(0.01, 0.05, 0.1, 0.15),
      numFolds = 2)
    assert(cv.avgMetrics.length == 16, s"grid ran ${cv.avgMetrics.length} configs")
    assert(cv.avgMetrics.forall(m => !m.isNaN && m > 0.0))
    // typed best-param readback (the py4j reflection als.py:74-79 needed):
    // RMSE evaluator → CV picks the min avgMetric
    val als = cv.getEstimator.asInstanceOf[org.apache.spark.ml.recommendation.ALS]
    val bestMap = cv.getEstimatorParamMaps(cv.avgMetrics.indexOf(cv.avgMetrics.min))
    val (bestRank, bestReg) = (bestMap(als.rank), bestMap(als.regParam))
    assert(Seq(10, 50, 100, 150).contains(bestRank))
    assert(Seq(0.01, 0.05, 0.1, 0.15).contains(bestReg))
    assert(Recommend.bestAls(cv).rank == bestRank)
  }

  test("cross-validation surfaces the best typed params (M6, mini grid)") {
    val rows = for { u <- 0 until 20; i <- 0 until 15 }
      yield (u, i, if ((u + i) % 2 == 0) 5.0f else 1.0f)
    val df = rows.toDF("userId", "movieId", "rating")
    val cv = Recommend.crossValidate(df,
      ranks = Seq(2, 4), regParams = Seq(0.1), numFolds = 2,
      cfg = Recommend.AlsConfig(rank = 2, maxIter = 2, regParam = 0.1, seed = 11L))
    val best = Recommend.bestAls(cv)
    assert(Seq(2, 4).contains(best.rank))
    assert(cv.avgMetrics.length == 2)
  }
}
