package graft

import graft.operators.{Rank, Split}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Split invariants (mirrors the reference's only asserts,
  * extension.py:150-152: train/val/test pairwise disjoint) plus the
  * completeness property A = (A⋉B) ⊎ (A▷B) and per-group fraction bounds.
  */
class SplitSpec extends SparkTestBase {

  lazy val ratings = Tables.ratings(spark, sf)
    .groupBy(col("userId"), col("movieId")).agg(avg(col("rating")).as("rating"))
    .cache()

  test("splitV2: disjoint and complete") {
    val (train, v, t) = Split.splitV2(ratings, 0.25, 1234L)
    val rep = Split.disjointnessReport(train, v, t, Seq("userId", "movieId")).first()
    val total = ratings.count()
    assert(rep.getLong(3) == 0, "train/val overlap")
    assert(rep.getLong(4) == 0, "train/test overlap")
    assert(rep.getLong(5) == 0, "val/test overlap")
    assert(rep.getLong(0) + rep.getLong(1) + rep.getLong(2) == total, "completeness")
  }

  test("splitV2 is stable under re-evaluation (content-hash ordering)") {
    val (_, v1, _) = Split.splitV2(ratings, 0.25, 1234L)
    val (_, v2, _) = Split.splitV2(ratings, 0.25, 1234L)
    assert(v1.exceptAll(v2).count() == 0)
    assert(v2.exceptAll(v1).count() == 0)
  }

  /** The sample-then-anti-join composition of the reference v2 split (two
    * [[Split.perGroupSample]] + two [[Split.antiJoin]] on the value keys
    * plus the exact-duplicate ordinal), outputs in the input's column
    * order. It drops rows that share (userId, movieId, rating) with a
    * sampled row, so it is a reference only on inputs without such pairs.
    */
  private def splitV2ByAntiJoins(r: DataFrame, frac: Double, seed: Long)
      : (DataFrame, DataFrame, DataFrame) = {
    val allCols = r.columns.toSeq.map(col)
    val base = r.withColumn("__dup",
      row_number().over(Window.partitionBy(allCols: _*).orderBy(lit(1))))
    val keys = Seq("userId", "movieId", "rating", "__dup")
    val validation = Split.perGroupSample(base, "userId", frac, seed)
    val remainder = Split.antiJoin(base, validation, keys)
    val test = Split.perGroupSample(remainder, "userId", frac, seed + 1)
    val train = Split.antiJoin(remainder, test, keys)
    (train.select(allCols: _*), validation.select(allCols: _*), test.select(allCols: _*))
  }

  test("splitV2 ≡ the two-sample/two-anti-join composition, output by output") {
    import spark.implicits._
    val generated = (0 until 3).map { i =>
      Gen.listOfN(60, Gen.zip(Gen.chooseNum(1, 5), Gen.chooseNum(1, 10), Gen.oneOf(1.0, 2.0)))
        .pureApply(Gen.Parameters.default, Seed(42L + i))
        .toDF("userId", "movieId", "rating")
    }
    for (r <- ratings +: generated; (frac, seed) <- Seq((0.25, 1234L), (0.4, 7L), (0.1, 99L))) {
      val got = Split.splitV2(r, frac, seed)
      val want = splitV2ByAntiJoins(r, frac, seed)
      for ((name, g, w) <- Seq(("train", got._1, want._1), ("validation", got._2, want._2),
          ("test", got._3, want._3)))
        assert(g.exceptAll(w).isEmpty && w.exceptAll(g).isEmpty,
          s"$name differs at frac=$frac seed=$seed: ${g.count()} vs ${w.count()} rows")
    }
  }

  test("splitV2 keeps rows that share (userId, movieId, rating) but differ in timestamp") {
    import spark.implicits._
    val r = Seq((1, 10, 4.0, 100L), (1, 10, 4.0, 200L), (1, 11, 3.0, 300L), (1, 12, 5.0, 400L),
      (2, 10, 2.0, 100L), (2, 13, 3.5, 200L), (2, 14, 4.0, 300L), (2, 15, 1.0, 400L))
      .toDF("userId", "movieId", "rating", "timestamp")
    for (seed <- 1L to 20L) {
      val (train, v, t) = Split.splitV2(r, 0.25, seed)
      val together = train.unionAll(v).unionAll(t)
      assert(together.exceptAll(r).isEmpty && r.exceptAll(together).isEmpty,
        s"seed $seed: ${together.count()} of 8 rows come back")
      // per user of 4 rows: ceil(4·0.25) = 1 validation, ceil(3·0.25) = 1 test
      assert(v.groupBy("userId").count().collect().forall(_.getLong(1) == 1L), s"seed $seed")
      assert(t.groupBy("userId").count().collect().forall(_.getLong(1) == 1L), s"seed $seed")
    }
  }

  test("splitV2 keeps the input's column order in all three outputs") {
    import spark.implicits._
    val r = Seq((100L, 1, 10, 4.0), (200L, 1, 11, 3.0), (300L, 1, 12, 5.0), (400L, 1, 13, 2.0),
      (100L, 2, 10, 2.0), (200L, 2, 13, 3.5), (300L, 2, 14, 4.0), (400L, 2, 15, 1.0))
      .toDF("timestamp", "userId", "movieId", "rating")
    for (seed <- 1L to 5L) {
      val (train, v, t) = Split.splitV2(r, 0.25, seed)
      for (out <- Seq(train, v, t))
        assert(out.columns.toSeq == r.columns.toSeq, s"seed $seed: ${out.columns.toSeq}")
      // positional union: only equal to the input if every output is in its order
      val together = train.unionAll(v).unionAll(t)
      assert(together.exceptAll(r).isEmpty && r.exceptAll(together).isEmpty, s"seed $seed")
    }
  }

  test("splitV2 plan: one userId hash exchange per output, no join, no broadcast") {
    // the same rows as a local relation: the cached `ratings` would print
    // its own aggregation exchange inside the plan
    val local = spark.createDataFrame(
      java.util.Arrays.asList(ratings.collect(): _*), ratings.schema)
    val (train, v, t) = Split.splitV2(local, 0.25, 1234L)
    for ((name, out) <- Seq(("train", train), ("validation", v), ("test", t))) {
      // AQE finalizes the plan only on execution
      out.collect()
      val plan = out.queryExecution.executedPlan.toString.split("Initial Plan")(0)
      // "Exchange " not preceded by a letter: Broadcast/ReusedExchange excluded
      val exchanges = "(?<![A-Za-z])Exchange ".r.findAllIn(plan).length
      assert(exchanges == 1, s"$name: $exchanges exchanges:\n$plan")
      assert("Exchange hashpartitioning\\(userId#\\d+L?, ".r.findFirstIn(plan).isDefined,
        s"$name: the exchange must hash userId:\n$plan")
      assert(!plan.contains("Join") && !plan.contains("BroadcastExchange"),
        s"$name: no join, no broadcast:\n$plan")
    }
  }

  test("perGroupSample takes ceil(frac*n) rows per group") {
    val sizes = ratings.groupBy(col("userId")).agg(count(lit(1)).as("n"))
    val sampled = Split.perGroupSample(ratings, "userId", 0.25, 7L)
      .groupBy(col("userId")).agg(count(lit(1)).as("k"))
    val bad = sizes.join(sampled, Seq("userId"), "left")
      .withColumn("k", coalesce(col("k"), lit(0L)))
      .filter(col("k") =!= ceil(col("n") * 0.25).cast("long"))
      .count()
    assert(bad == 0)
  }

  test("labelByHash partitions every row into exactly one label") {
    val labeled = Split.labelByHash(ratings, "movieId")
    val n = labeled.count()
    val byLabel = labeled.groupBy(col("train_val_test")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byLabel.keySet == Set("train", "validation", "test"))
    assert(byLabel.values.sum == n)
  }

  test("labelByMembership mirrors the reference isin labeling (P6)") {
    val labeled = Split.labelByMembership(ratings, "userId",
      trainIds = Seq(1L, 2L, 3L), valIds = Seq(4L, 5L))
    val got = labeled.groupBy(col("train_val_test")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val n = ratings.count()
    assert(got.values.sum == n)
    val trainN = ratings.filter(col("userId").isin(1L, 2L, 3L)).count()
    assert(got.getOrElse("train", 0L) == trainN)
  }

  test("antiJoin complement partitions the relation") {
    val sample = Split.perGroupSample(ratings, "userId", 0.5, 3L)
    val rest = Split.antiJoin(ratings, sample, Seq("userId", "movieId"))
    assert(sample.count() + rest.count() == ratings.count())
  }

  test("exactNSample: exact size, deterministic, TakeOrdered plan (no global sort)") {
    val docs = graft.Tables.documents(spark, sf).select(col("doc_id"), col("source"))
    val s1 = Split.exactNSample(docs, 37, Seq(col("doc_id")))
    assert(s1.count() == 37L, "exact N, not expected N")
    val ids1 = s1.collect().map(_.getLong(0)).toSet
    val ids2 = Split.exactNSample(docs.repartition(7), 37, Seq(col("doc_id")))
      .collect().map(_.getLong(0)).toSet
    assert(ids1 == ids2, "sampled set is a pure function of content")
    // plan: per-partition heaps + driver merge, never a full sort
    val plan = Split.exactNSample(docs, 37, Seq(col("doc_id")))
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), s"wanted TakeOrdered:\n$plan")
    // n > |df| degrades to the full relation
    assert(Split.exactNSample(docs, 100000, Seq(col("doc_id"))).count() == docs.count())
  }

  test("exactNSample: concat-ambiguous multi-column keys cut deterministically (length-prefixed serialization)") {
    import spark.implicits._
    // under plain concatenation both keys serialize to "abc" → identical
    // md5 → arbitrary winner; the length-prefixed form keeps them apart
    val df = Seq(("ab", "c", 1L), ("a", "bc", 2L)).toDF("k1", "k2", "v")
    def hex(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val expected =
      if (Ordering.Tuple2[String, String].lt(
        (hex("2:ab|1:c"), "2:ab|1:c"), (hex("1:a|2:bc"), "1:a|2:bc"))) 1L
      else 2L
    (0 until 3).foreach { i =>
      val got = Split.exactNSample(df.repartition(i + 1), 1,
        Seq(col("k1"), col("k2"))).collect()
      assert(got.length == 1 && got(0).getLong(2) == expected,
        s"partitioning $i picked ${got.toSeq}, wanted v=$expected")
    }
  }

  test("budgetedSample: each group cut at its OWN target, oversized targets degrade to the group") {
    import spark.implicits._
    val docs = graft.Tables.documents(spark, sf).select(col("doc_id"), col("source"))
    val sources = docs.select(col("source")).distinct()
      .collect().map(_.getString(0)).sorted
    // varying targets per source: 1, 2, 3, ... plus one absurdly large
    val targets = sources.zipWithIndex.map { case (src, i) =>
      (src, if (i == 0) 100000L else i.toLong)
    }.toSeq.toDF("source", "target")
    val got = Split.budgetedSample(docs, targets, col("source"), Seq(col("doc_id")))
    val perGroup = got.groupBy(col("source")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val groupSizes = docs.groupBy(col("source")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    sources.zipWithIndex.foreach { case (src, i) =>
      val want = if (i == 0) groupSizes(src) else math.min(i.toLong, groupSizes(src))
      assert(perGroup.getOrElse(src, 0L) == want,
        s"$src got ${perGroup.getOrElse(src, 0L)}, want $want")
    }
    val ids1 = got.collect().map(_.getLong(0)).toSet
    val ids2 = Split.budgetedSample(docs.repartition(7), targets,
      col("source"), Seq(col("doc_id"))).collect().map(_.getLong(0)).toSet
    assert(ids1 == ids2, "budgeted sample is a pure function of content")
  }

  test("exactNPerGroup: exactly n per group, deterministic, WindowGroupLimit plan (no global sort)") {
    val docs = graft.Tables.documents(spark, sf).select(col("doc_id"), col("source"))
    val s1 = Split.exactNPerGroup(docs, 3, col("source"), Seq(col("doc_id")))
    val perGroup = s1.groupBy(col("source")).count().collect()
    val nSources = docs.select(col("source")).distinct().count()
    assert(perGroup.length == nSources, "every source represented")
    assert(perGroup.forall(_.getLong(1) == 3L),
      s"per-group sizes ${perGroup.map(_.getLong(1)).toSeq}")
    val ids1 = s1.collect().map(_.getLong(0)).toSet
    val ids2 = Split.exactNPerGroup(docs.repartition(7), 3, col("source"),
      Seq(col("doc_id"))).collect().map(_.getLong(0)).toSet
    assert(ids1 == ids2, "sampled set is a pure function of content")
    // plan: rank cut as per-partition WindowGroupLimit heaps around ONE
    // hash exchange on the group key — never a global (range) sort
    val plan = Split.exactNPerGroup(docs, 3, col("source"), Seq(col("doc_id")))
      .queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"), s"wanted WindowGroupLimit:\n$plan")
    assert(!plan.contains("rangepartitioning"), s"global sort leaked:\n$plan")
  }

  test("serializeKey: null parts keep multi-column keys injective") {
    import spark.implicits._
    // concat_ws SKIPS null segments, so without the "-:" marker
    // (null,"a") and ("a",null) would serialize identically — same md5
    // order key, nondeterministic winner at a limit boundary
    val df = Seq((Option("a"), Option.empty[String]),
      (Option.empty[String], Option("a"))).toDF("k1", "k2")
    val keys = df.select(Split.serializeKey(Seq(col("k1"), col("k2"))).as("ks"))
      .collect().map(_.getString(0))
    assert(keys.toSet == Set("1:a|-:", "-:|1:a"), s"got ${keys.toSeq}")
  }

  test("Rank.exactNtile ≡ Spark's ntile window across boundary shapes") {
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    // n mod k ∈ {0,1,2,3}, n < k, n == 1, plus grp ties (broken by id):
    // exact agreement with the engine's own ntile on every row
    for (n <- Seq(1, 3, 4, 7, 10, 13)) {
      val df = (1 to n).map(i => (i.toLong, (i % 3).toLong)).toDF("id", "grp")
      val expected = df.withColumn("phase",
          ntile(4).over(Window.orderBy(col("grp").desc, col("id"))).cast("long"))
        .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
      val got = Rank.exactNtile(df, 4, "phase", col("grp").desc, col("id"))
        .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
      assert(got == expected, s"n=$n: $got vs $expected")
    }
  }

  test("Rank.withGlobalRank: dense 1..n, repartition-invariant, empty-safe") {
    import spark.implicits._
    val df = (1 to 100).map(i => ((i * 37) % 101).toLong).toDF("v")
    val (ranked, total) = Rank.withGlobalRank(df, "rnk", col("v"))
    assert(total == 100L)
    val rows = ranked.collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(rows.map(_._2).sorted.toSeq == (1L to 100L), "dense 1..n")
    assert(rows.sortBy(_._2).map(_._1).toSeq == rows.map(_._1).sorted.toSeq,
      "rank order follows the sort order")
    val (r2, t2) = Rank.withGlobalRank(df.repartition(7), "rnk", col("v"))
    assert(t2 == 100L)
    assert(r2.collect().map(r => (r.getLong(0), r.getLong(1))).toSet ==
      rows.toSet, "rank is a pure function of content, not layout")
    val (re, te) = Rank.withGlobalRank(df.limit(0), "rnk", col("v"))
    assert(te == 0L && re.count() == 0L)
  }
}
