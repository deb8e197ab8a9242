package graft

import graft.operators.{Dedup, Eval, Popularity, Split}
import graft.functions.VectorFunctions._
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property-based tests (SURVEY §5 test plan): scalacheck generators with
  * a fixed seed; scalar metric properties checked directly, column/
  * operator properties checked VECTORIZED — all generated cases become one
  * DataFrame and the property is asserted as a column predicate, so each
  * property costs one Spark job instead of one per case.
  */
class PropertySpec extends SparkTestBase {

  import spark.implicits._

  private def cases[A](g: Gen[A], n: Int): Seq[A] =
    (0 until n).map(i => g.pureApply(Gen.Parameters.default, Seed(42L + i)))

  private val idList: Gen[List[Int]] =
    Gen.chooseNum(0, 12).flatMap(k => Gen.listOfN(k, Gen.chooseNum(0, 30)))

  // NOTE (found by this property): the reference's formula is NOT a
  // normalized AP. A label found at rank 1 contributes (1 + 1/1)/k = 2/k,
  // so the score's true range is [0, 2/k] — score 2.0 for k=1 — which is
  // why the reference's published mAP values are so small (≤ 0.02 at
  // k=100 by construction, see BASELINE.md). Replicated exactly; the
  // normalized metric is standardMapAtK.
  test("referenceMapScore: in [0, 2/k] and equal to a direct als.py:10-20 transcription") {
    def direct(topK: Seq[Int], labels: Seq[Int]): Double = {
      if (labels.isEmpty) return 0.0
      var s = 0.0
      for (m <- labels) {
        var found = false
        var i = 0
        while (i < topK.size && !found) {
          if (topK(i) == m) { s += (1.0 + 1.0 / (i + 1)) / topK.size; found = true }
          i += 1
        }
      }
      s / labels.size
    }
    for ((topK, labels) <- cases(Gen.zip(idList, idList), 300)) {
      val v = Eval.referenceMapScore(topK, labels)
      val bound = 2.0 / math.max(1, topK.size)
      assert(v >= 0.0 && v <= bound + 1e-12, s"out of [0, $bound]: $v for ($topK, $labels)")
      assert(math.abs(v - direct(topK, labels)) < 1e-12, s"mismatch for ($topK, $labels)")
    }
  }

  test("hitRatioScore: in [0,1] and equal to |labels ∩ topK| / |labels|") {
    for ((topK, labels) <- cases(Gen.zip(idList, idList), 300)) {
      val v = Eval.hitRatioScore(topK, labels)
      val expect = if (labels.isEmpty) 0.0
        else labels.count(topK.toSet).toDouble / labels.size
      assert(v == expect && v >= 0.0 && v <= 1.0, s"($topK, $labels) -> $v")
    }
  }

  test("jaccard: range, symmetry, self-similarity (vectorized)") {
    val pairs = cases(Gen.zip(idList, idList), 200)
      .map { case (a, b) => (a.distinct.map(_.toString), b.distinct.map(_.toString)) }
    val df = pairs.toDF("a", "b")
      .select(Dedup.jaccard(col("a"), col("b")).as("jab"),
        Dedup.jaccard(col("b"), col("a")).as("jba"),
        Dedup.jaccard(col("a"), col("a")).as("jaa"),
        size(col("a")).as("na"))
    val bad = df.filter(
      col("jab") < 0 || col("jab") > 1 ||
        col("jab") =!= col("jba") ||
        (col("na") > 0 && col("jaa") =!= 1.0) ||
        (col("na") === 0 && col("jaa") =!= 0.0)).count()
    assert(bad == 0)
  }

  test("weightedScore is a convex combination of r and avg (vectorized)") {
    val g = Gen.zip(Gen.chooseNum(1, 1000), Gen.chooseNum(0.5, 5.0),
      Gen.chooseNum(1.0, 500.0), Gen.chooseNum(0.5, 5.0))
    val df = cases(g, 300).toDF("v", "r", "per", "avg")
      .select(col("r"), col("avg"),
        Popularity.weightedScore(col("v").cast("double"), col("r"),
          col("per"), col("avg")).as("s"))
    val bad = df.filter(
      col("s") < least(col("r"), col("avg")) - 1e-9 ||
        col("s") > greatest(col("r"), col("avg")) + 1e-9).count()
    assert(bad == 0, "score escaped [min(r,avg), max(r,avg)]")
  }

  test("int8 quantization error bounded by one step (vectorized)") {
    val vecGen = Gen.chooseNum(1, 16).flatMap(d =>
      Gen.listOfN(d, Gen.chooseNum(-100.0f, 100.0f)))
    val df = cases(vecGen, 200).map(v => Tuple1(v.toArray)).toDF("v")
      .select(col("v"), quantize_int8(col("v")).as("qz"))
      .select(explode(arrays_zip(col("v"), col("qz.q"))).as("z"),
        col("qz.scale").as("scale"))
      .select((abs(col("z.v") - col("z.q") / col("scale")) * col("scale")).as("stepErr"))
    val bad = df.filter(col("stepErr") >= 1.0 + 1e-9).count()
    assert(bad == 0, "quantization error exceeded one integer step")
  }

  test("antiJoin partition property: A = (A ⋉ B) ⊎ (A ▷ B)") {
    val rowGen = Gen.listOfN(40, Gen.zip(Gen.chooseNum(0, 8), Gen.chooseNum(0, 8)))
    for (rows <- cases(Gen.zip(rowGen, rowGen), 3)) {
      val a = rows._1.toDF("k", "x")
      val b = rows._2.toDF("k", "x")
      val semi = a.join(b, Seq("k", "x"), "left_semi")
      val anti = Split.antiJoin(a, b, Seq("k", "x"))
      assert(semi.count() + anti.count() == a.count())
      assert(semi.unionAll(anti).exceptAll(a).isEmpty &&
        a.exceptAll(semi.unionAll(anti)).isEmpty)
    }
  }

  test("bpeMerges: distributed merge sequence equals a driver reference on random vocabs") {
    // adversarial-ish generator: tiny alphabet {a,b,c} maximizes repeated
    // and overlapping pairs (aaa, abab, merged-symbol interactions) —
    // exactly where greedy-rewrite and tiebreak bugs live
    val word: Gen[String] =
      Gen.chooseNum(1, 6).flatMap(n => Gen.stringOfN(n, Gen.oneOf('a', 'b', 'c')))
    val vocabGen: Gen[Map[String, Long]] =
      Gen.chooseNum(1, 8).flatMap(k =>
        Gen.listOfN(k, Gen.zip(word, Gen.chooseNum(1L, 9L))).map(_.toMap))
    def refBpe(vocab: Map[String, Long], rounds: Int): Seq[(Long, String, String, String, Long)] = {
      def mergeGreedy(syms: Vector[String], a: String, b: String): Vector[String] = {
        val out = Vector.newBuilder[String]; var i = 0
        while (i < syms.length) {
          if (i < syms.length - 1 && syms(i) == a && syms(i + 1) == b) { out += (a + b); i += 2 }
          else { out += syms(i); i += 1 }
        }
        out.result()
      }
      var words = vocab.toSeq.map { case (w, f) => (w.map(_.toString).toVector, f) }
      val out = Seq.newBuilder[(Long, String, String, String, Long)]
      var r = 1; var done = false
      while (r <= rounds && !done) {
        val counts = scala.collection.mutable.Map.empty[(String, String), Long].withDefaultValue(0L)
        for ((syms, f) <- words; i <- 0 until syms.length - 1) counts((syms(i), syms(i + 1))) += f
        if (counts.isEmpty) done = true
        else {
          val ((a, b), f) = counts.toSeq.minBy { case ((l, rr), pf) => (-pf, l, rr) }
          out += ((r.toLong, a, b, a + b, f))
          words = words.map { case (syms, wf) => (mergeGreedy(syms, a, b), wf) }
          r += 1
        }
      }
      out.result()
    }
    for (vocab <- cases(vocabGen, 12)) {
      val df = vocab.toSeq.toDF("w", "freq")
      val got = graft.operators.TextAnalysis.bpeMerges(df, rounds = 4)
        .orderBy(col("round")).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3), r.getLong(4)))
        .toSeq
      assert(got == refBpe(vocab, 4), s"vocab $vocab: $got != ${refBpe(vocab, 4)}")
    }
  }

  test("writeShards: conservation + cover-exactness for random shard counts") {
    // shard assignment must partition the corpus for ANY nShards: every
    // doc lands in exactly one shard dir, manifests conserve rows and
    // tokens, and every manifest shard id is in [0, nShards)
    val docs = Tables.documents(spark, sf)
    val total = docs.count()
    val totalTok = docs.agg(sum(col("n_chars"))).first().getLong(0)
    for (nShards <- cases(Gen.chooseNum(1, 16), 4).distinct) {
      val dir = tempDir(s"psh$nShards").toString
      val m = graft.operators.Mix.writeShards(docs, dir, nShards, "doc_id",
        col("n_chars")).collect()
      assert(m.map(_.getLong(1)).sum == total, s"nShards=$nShards rows")
      assert(m.map(_.getLong(2)).sum == totalTok, s"nShards=$nShards tokens")
      assert(m.forall(r => r.getLong(0) >= 0 && r.getLong(0) < nShards))
      assert(spark.read.parquet(s"$dir/shards").count() == total)
    }
  }

  test("exactNtile equals Spark's own ntile for random (n, k)") {
    // the scale-safe range-sort + offset form must reproduce the
    // SQL-standard tile assignment bit-for-bit — checked against the
    // single-partition window ntile (fine at test size) over a TOTAL
    // order, for sizes around and below k, including n = 0
    import org.apache.spark.sql.expressions.Window
    for ((n, k) <- cases(Gen.zip(Gen.chooseNum(0, 40), Gen.chooseNum(1, 7)), 6)) {
      val df = (0 until n).map(i => ((i * 37) % 100, i.toLong))
        .toDF("v", "id")
      val got = graft.operators.Rank
        .exactNtile(df, k, "tile", col("v").desc, col("id"))
        .select(col("id"), col("tile")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toMap
      val want = df.withColumn("tile",
        ntile(k).over(Window.orderBy(col("v").desc, col("id"))).cast("long"))
        .select(col("id"), col("tile")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(got == want, s"n=$n k=$k")
    }
  }

  test("admitByBudget: per-group admits = min(target, size), first rows in order") {
    for (rows <- cases(Gen.listOfN(50,
        Gen.zip(Gen.chooseNum(1, 4), Gen.chooseNum(0, 1000))), 3)) {
      val df = rows.zipWithIndex
        .map { case ((g, ord), i) => (g, ord.toLong * 100 + i, i.toLong) }
        .toDF("g", "ord", "id")
      val targets = Seq((1, 3L), (2, 0L), (3, 7L), (4, 100L)).toDF("g", "target")
      val got = graft.operators.Mix.admitByBudget(df, targets, col("g"),
        Seq(col("ord"), col("id"))).collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
      val byG = got.groupBy(_._1).view.mapValues(_.length.toLong).toMap
      val sizes = rows.groupBy(_._1).view.mapValues(_.length.toLong).toMap
      val tgt = Map(1 -> 3L, 2 -> 0L, 3 -> 7L, 4 -> 100L)
      sizes.keys.foreach { g =>
        assert(byG.getOrElse(g, 0L) == math.min(tgt(g), sizes(g)), s"g=$g")
      }
      // admitted rows are exactly the first-by-(ord, id) of each group
      val expect = got.map(_._1).distinct.flatMap { g =>
        df.filter(col("g") === g).orderBy(col("ord"), col("id"))
          .limit(tgt(g).toInt).collect()
          .map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
      }.toSet
      assert(got.toSet == expect, "admission must be the per-group prefix")
    }
  }

  test("splitV2 multiset-partitions arbitrary inputs (incl. duplicates)") {
    val rowGen = Gen.listOfN(60,
      Gen.zip(Gen.chooseNum(1, 5), Gen.chooseNum(1, 10), Gen.oneOf(1.0, 2.0)))
    // a small-range timestamp makes rows that share (userId, movieId,
    // rating) but differ in another column: each must still land once
    val stamped = Gen.listOfN(60, Gen.zip(Gen.chooseNum(1, 5), Gen.chooseNum(1, 10),
      Gen.oneOf(1.0, 2.0), Gen.chooseNum(0L, 2L)))
    val inputs = cases(rowGen, 3).map(_.toDF("userId", "movieId", "rating")) ++
      cases(stamped, 3).map(_.toDF("userId", "movieId", "rating", "timestamp"))
    for (r <- inputs) {
      val (train, v, t) = Split.splitV2(r, 0.25, 99L)
      val together = train.unionAll(v).unionAll(t)
      assert(together.count() == r.count())
      assert(together.exceptAll(r).isEmpty && r.exceptAll(together).isEmpty,
        "train ⊎ val ⊎ test must equal the input as a multiset")
    }
  }

  test("decontaminateBloom ≡ decontaminate on random corpora (bloom exactness)") {
    // random docs over a tiny token alphabet (high collision rate: the
    // adversarial regime for a membership filter), random bench split —
    // the bloom path must keep EXACTLY the exact path's survivors
    val word = Gen.oneOf("alpha", "beta", "gamma", "delta", "eps", "zeta", "eta")
    val doc = Gen.chooseNum(0, 9).flatMap(k => Gen.listOfN(k, word))
      .map(_.mkString(" "))
    for (round <- 0 until 3) {
      val texts = cases(doc, 60).zipWithIndex
        .map { case (t, i) => (i.toLong + round * 1000, t) }
      val df = texts.toDF("doc_id", "text")
        .withColumn("source", lit("s")).withColumn("n_chars", length(col("text")))
      val bench = df.filter(pmod(col("doc_id"), lit(7)) === round)
      val train = df.filter(pmod(col("doc_id"), lit(7)) =!= round)
      val exact = graft.operators.TextAnalysis.decontaminate(train, bench, n = 3)
        .select(col("doc_id")).as[Long].collect().toSet
      val bloomed = graft.operators.TextAnalysis
        .decontaminateBloom(train, bench, n = 3)
        .select(col("doc_id")).as[Long].collect().toSet
      assert(bloomed == exact,
        s"round $round: bloom ${bloomed.size} vs exact ${exact.size}; " +
          s"extra=${(bloomed -- exact).take(5)} missing=${(exact -- bloomed).take(5)}")
    }
  }

  test("GramSetHit ≡ hitIds membership on generated docs (short, empty, null, " +
      "mixed-case and non-ASCII text)") {
    // words mix case, non-ASCII letters and digits (Arabic-Indic ٤٢ is
    // a digit, "—" and "_" delimit); 1–6 tokens against n = 3, so many
    // docs fall back to their whole-doc gram
    val word = Gen.oneOf("alpha", "Alpha", "BETA", "beta", "ñandú", "ÑANDÚ",
      "straße", "日本", "Ωmega", "ωmega", "42", "٤٢", "x9")
    val sep = Gen.oneOf(" ", ", ", "—", "_", "!? ")
    val doc: Gen[Option[String]] = Gen.frequency(
      1 -> Gen.const(None), 1 -> Gen.const(Some("")), 1 -> Gen.const(Some("!? —")),
      12 -> Gen.chooseNum(1, 6).flatMap(k => Gen.listOfN(k, Gen.zip(word, sep)))
        .map(ws => Some(ws.map { case (w, s) => w + s }.mkString)))
    val all = cases(doc, 240).zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val bench = all.filter(col("doc_id") < 20)
    val train = all.filter(col("doc_id") >= 20)
    val g = graft.operators.TextAnalysis.benchGrams(bench, n = 3)
    assert(g.broadcastUsed)
    val viaJoin = g.hitIds(train).as[Long].collect().toSet
    val dir = tempDir("graft_gramsethit").toString
    train.write.mode("overwrite").parquet(dir)
    // the local relation folds to interpreted eval; the scan runs codegen,
    // here with no silent fallback to interpreted eval
    val strict = Seq("spark.sql.codegen.fallback" -> "false",
      "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY")
    val prior = strict.map { case (k, _) => k -> spark.conf.getOption(k) }
    strict.foreach { case (k, v) => spark.conf.set(k, v) }
    try for ((path, docs) <- Seq("interpreted" -> train, "codegen" -> spark.read.parquet(dir))) {
      val flags = docs.select(col("doc_id"), g.intakeFlag(col("text"), 0.01).as("hit"))
      assert(flags.filter(col("hit").isNull).isEmpty, s"$path: a null flag")
      val hit = flags.filter(col("hit")).select(col("doc_id")).as[Long].collect().toSet
      assert(hit == viaJoin, s"$path: probe-only ${hit -- viaJoin}, join-only ${viaJoin -- hit}")
    } finally prior.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
    val nTrain = train.count()
    assert(viaJoin.nonEmpty && viaJoin.size < nTrain, s"${viaJoin.size} of $nTrain hit")
  }
}
