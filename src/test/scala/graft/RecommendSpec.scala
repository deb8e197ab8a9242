package graft

import graft.operators.{Eval, Multimodal, Recommend}
import org.apache.spark.sql.functions._

/** ALS on a structured synthetic fixture: users with a known block
  * preference pattern → RMSE must beat the trivial predictor and
  * recommendations must surface the preferred block.
  * (Exact reference metrics aren't portable across Spark versions —
  * SURVEY §7.4 risk 3 — so bands, not equality.)
  */
class RecommendSpec extends SparkTestBase {

  import spark.implicits._

  // block structure: even users love even items (5.0), hate odd (1.0);
  // odd users the reverse. 40 users x 30 items, 80% observed.
  lazy val fixture = {
    val rows = for {
      u <- 0 until 40; i <- 0 until 30
      if (u * 31 + i * 17) % 5 != 0 // drop ~20% as holdout
    } yield (u, i, if ((u + i) % 2 == 0) 5.0f else 1.0f)
    rows.toDF("userId", "movieId", "rating")
  }
  lazy val holdout = {
    val rows = for {
      u <- 0 until 40; i <- 0 until 30
      if (u * 31 + i * 17) % 5 == 0
    } yield (u, i, if ((u + i) % 2 == 0) 5.0f else 1.0f)
    rows.toDF("userId", "movieId", "rating")
  }

  lazy val model = Recommend.train(fixture,
    Recommend.AlsConfig(rank = 8, maxIter = 5, regParam = 0.1, seed = 7L))

  test("ALS learns the block structure (RMSE well below trivial 2.0)") {
    val rmse = Eval.rmse(Recommend.predict(model, holdout)).first().getDouble(0)
    assert(rmse < 1.0, s"rmse $rmse")
  }

  test("loadOrFitAls: cold call fits once + persists; warm call loads without refit, recs bit-identical") {
    import graft.operators.Artifacts
    val dir = tempDir("graft_als_lof")
      .toString + "/als"
    val cfg = Recommend.AlsConfig(rank = 8, maxIter = 5, regParam = 0.1, seed = 7L)
    var fits = 0
    def fit() = { fits += 1; Recommend.train(fixture, cfg) }
    val cold = Artifacts.loadOrFitAls(spark, dir)(fit())
    assert(fits == 1, "cold call must fit exactly once")
    val warm = Artifacts.loadOrFitAls(spark, dir)(fit())
    assert(fits == 1, "warm call must NOT refit")
    // factors round-trip exactly through parquet, so per-(user, item)
    // PREDICTIONS are bit-identical across the save/load boundary.
    // (Deliberately not asserted on recommendTopK: the block fixture
    // produces exact score TIES, and top-k tie-breaks follow partition
    // order, which legitimately differs between an in-memory and a
    // parquet-loaded factor matrix.)
    def preds(m: org.apache.spark.ml.recommendation.ALSModel) =
      Recommend.predict(m, holdout)
        .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getFloat(3)).toMap
    val (p1, p2) = (preds(cold), preds(warm))
    assert(p1 == p2, "reloaded factors must serve bit-identical predictions")
  }

  test("same-seed ALS refit at the default block count gives identical top-100 lists (Footrule 0)") {
    // the refit row of the recommenders' ranking-stability census: two
    // fits of the reference hyperparameters (MLlib's default 10 user and
    // item blocks) on one pinned fixture must rank every user's items
    // identically. Normalized top-k Spearman Footrule ("Distributed
    // Similarity Joins over Top-K Rankings", EDBT 2020): a missing item
    // takes position k + 1, the sum is divided by its maximum k(k + 1).
    val k = 100
    def lists(): Map[Int, Seq[Int]] =
      Recommend.recommendTopK(Recommend.train(fixture), k).collect()
        .groupBy(_.getInt(0)).map { case (u, rs) =>
          u -> rs.sortBy(_.getLong(2)).map(_.getInt(1)).toSeq }
    def footrule(x: Seq[Int], y: Seq[Int]): Double = {
      val (px, py) = (x.zipWithIndex.toMap, y.zipWithIndex.toMap)
      (px.keySet ++ py.keySet).toSeq.map(i =>
        math.abs(px.getOrElse(i, k) - py.getOrElse(i, k))).sum.toDouble / (k * (k + 1))
    }
    val (a, b) = (lists(), lists())
    assert(a.size == 40 && a.keySet == b.keySet, s"users ${a.size} vs ${b.size}")
    val worst = a.keys.map(u => footrule(a(u), b(u))).max
    assert(worst == 0.0, s"max per-user Footrule $worst between two same-seed fits")
    assert(a == b)
  }

  test("torn ALS save (pointerless partial v= dir) reads as absent → refit, not crash") {
    // ALSModel.save writes metadata + two factor matrices with no
    // atomicity across them; a versioned publish makes the crash window
    // invisible to loaders — a torn v=1 with no pointer is just garbage
    import graft.operators.Artifacts
    val dir = tempDir("graft_als_torn")
      .toString + "/als"
    new java.io.File(s"$dir/v=1/metadata").mkdirs()
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$dir/v=1/metadata/part-00000"),
      "{\"class\":\"org.apache.spark.ml.recommendation.ALSModel\"".getBytes)
    val cfg = Recommend.AlsConfig(rank = 4, maxIter = 2, regParam = 0.1, seed = 7L)
    var fits = 0
    def fit() = { fits += 1; Recommend.train(fixture, cfg) }
    Artifacts.loadOrFitAls(spark, dir)(fit())
    assert(fits == 1, "torn version must read as absent → exactly one fit")
    assert(Artifacts.latestVersion(spark, dir).exists(_.endsWith("v=2")),
      "publish skips past the torn v=1")
    Artifacts.loadOrFitAls(spark, dir)(fit())
    assert(fits == 1, "warm call serves the published version — no refit")
  }

  test("recommendTopK surfaces the preferred parity block") {
    val recs = Recommend.recommendTopK(model, 5)
    // for even users, top-5 recommended items should be mostly even
    val evenUserOddItem = recs
      .filter(pmod(col("userId"), lit(2)) === 0 && pmod(col("movieId"), lit(2)) === 1)
      .count()
    val total = recs.filter(pmod(col("userId"), lit(2)) === 0).count()
    assert(evenUserOddItem.toDouble / total < 0.2,
      s"$evenUserOddItem of $total even-user recs are odd items")
  }

  test("recommendUsersTopK (item side) surfaces the matching parity users") {
    val recs = Recommend.recommendUsersTopK(model, 5)
    val evenItemOddUser = recs
      .filter(pmod(col("movieId"), lit(2)) === 0 && pmod(col("userId"), lit(2)) === 1)
      .count()
    val total = recs.filter(pmod(col("movieId"), lit(2)) === 0).count()
    assert(evenItemOddUser.toDouble / total < 0.2,
      s"$evenItemOddUser of $total even-item recs are odd users")
  }

  test("recommendForUsers covers exactly the requested subset") {
    val subset = Seq(0, 2, 4).toDF("userId")
    val recs = Recommend.recommendForUsers(model, subset, 3)
    assert(recs.select(col("userId")).distinct().as[Int].collect().toSet == Set(0, 2, 4))
    assert(recs.groupBy(col("userId")).count()
      .filter(col("count") =!= 3).count() == 0, "3 recs per requested user")
  }

  test("topKPerKey returns exactly k ranked rows per key") {
    val scored = Seq((1, 10, 3.0), (1, 11, 5.0), (1, 12, 4.0), (2, 10, 1.0))
      .toDF("userId", "movieId", "score")
    val out = Recommend.topKPerKey(scored, "userId", Seq(col("score").desc, col("movieId")), 2)
      .select(col("userId"), col("movieId"), col("rank"))
      .as[(Int, Int, Long)].collect().toSet
    assert(out == Set((1, 11, 1L), (1, 12, 2L), (2, 10, 1L)))
  }

  test("multimodal feature extraction is deterministic and batch-shaped") {
    val media = Multimodal.syntheticMediaTable(Tables.documents(spark, sf))
    val f1 = Multimodal.extractFeatures(media, dim = 8, batchSize = 16)
      .select(col("media_id"), col("content_hash")).as[(Long, Long)].collect().toMap
    val f2 = Multimodal.extractFeatures(media, dim = 8, batchSize = 64)
      .select(col("media_id"), col("content_hash")).as[(Long, Long)].collect().toMap
    assert(f1 == f2, "batch size must not affect results")
    assert(f1.size == 500)
    // the float feature is DERIVED from the exact integer bucket sums
    // (the r17 de-exemption contract): feature(k) = f_sums(k) / 65536
    val rows = Multimodal.extractFeatures(media, dim = 8, batchSize = 16)
      .limit(50).collect()
    rows.foreach { r =>
      assert(r.feature.length == 8 && r.f_sums.length == 8)
      r.feature.zip(r.f_sums).foreach { case (f, s) =>
        assert(f == (s / 65536.0).toFloat, s"feature/sum drift for ${r.media_id}")
      }
    }
  }

  test("real image codec: decoded stats match the generator (lossless PNG round-trip)") {
    // genuine javax.imageio decode of genuine PNG bytes: decoded
    // dimensions must equal the generator's, channels = 3 (RGB), and
    // the EXACT integer channel sums must be real pixel statistics —
    // strictly inside (0, 255·n_pixels) for the splitmix raster, and
    // bit-identical across partitionings. One raster is additionally
    // recomputed driver-side from the generator formula (the same
    // independence the full-pixel SQL oracle has).
    val docs = Tables.documents(spark, sf).limit(60)
    val media = Multimodal.syntheticImageTable(docs)
    val stats = Multimodal.imageFeatures(media).collect()
    assert(stats.length == 60)
    stats.foreach { s =>
      assert(s.img_width == (s.media_id % 31 + 2).toInt &&
        s.img_height == (s.media_id % 23 + 2).toInt,
        s"decoded dims diverge from generator for ${s.media_id}")
      assert(s.n_channels == 3)
      assert(s.n_pixels == s.img_width.toLong * s.img_height)
      val cap = 255L * s.n_pixels
      assert(s.sum_r > 0 && s.sum_r < cap && s.sum_g > 0 && s.sum_g < cap &&
        s.sum_b > 0 && s.sum_b < cap, "sums must be genuine pixel stats")
      assert(s.n_bytes > 50L, "real PNG container overhead present")
    }
    // driver recompute from the splitmix formula for one image
    def splitmix(z0: Long): Long = {
      var z = z0
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^ (z >>> 31)
    }
    val probe = stats.minBy(_.media_id)
    var er = 0L; var eg = 0L; var eb = 0L
    for (y <- 0 until probe.img_height; x <- 0 until probe.img_width) {
      val rgb = (splitmix(probe.media_id + x * 0x9E3779B97F4A7C15L +
        y * 0xC2B2AE3D27D4EB4FL) & 0xFFFFFF).toInt
      er += (rgb >> 16) & 0xff; eg += (rgb >> 8) & 0xff; eb += rgb & 0xff
    }
    assert((probe.sum_r, probe.sum_g, probe.sum_b) == ((er, eg, eb)),
      s"decode-path sums diverge from generator recompute for ${probe.media_id}")
    val again = Multimodal.imageFeatures(
      Multimodal.syntheticImageTable(docs.repartition(7))).collect()
    assert(stats.map(s => s.media_id -> (s.sum_r, s.sum_g, s.sum_b)).toMap ==
      again.map(s => s.media_id -> (s.sum_r, s.sum_g, s.sum_b)).toMap,
      "decode must be deterministic under repartitioning")
  }

  test("q_media_decode: deterministic rows from genuine pixel data") {
    val q = SparkEntry.queries("q_media_decode")
    val a = q(spark, sf).collect()
    val b = q(spark, sf).collect()
    assert(a.length == 500 && a.sameElements(b))
  }

  test("image aHash: content dups hash identically; driver recompute matches the real decode") {
    // content-seeded rasters: exact-duplicate texts MUST produce
    // bit-identical hashes (the image-dedup premise), and the hash of
    // the REAL decode must equal a driver-side recompute straight from
    // the generator formula — the same independence the SQL oracle has.
    // plant exact-dup texts (the flat test sf has none): 10 docs
    // re-keyed with fresh ids — dup pairs exist BY CONSTRUCTION
    val base = Tables.documents(spark, sf)
    val docs = base.unionByName(
      base.orderBy(col("doc_id")).limit(10)
        .withColumn("doc_id", col("doc_id") + 1000000L))
    val media = Multimodal.contentImageTable(docs).persist()
    val hashes = Multimodal.imageAHash(media).collect()
      .map(h => h.media_id -> (h.img_width, h.img_height,
        h.b0, h.b1, h.b2, h.b3)).toMap
    val texts = docs.select(col("doc_id"), col("text"))
      .as[(Long, String)].collect()
    assert(hashes.size == texts.length)
    // identical text => identical hash tuple
    val byText = texts.groupBy(_._2).filter(_._2.length > 1)
    assert(byText.size >= 10, "planted dup texts must be present")
    byText.foreach { case (_, ids) =>
      val hs = ids.map(i => hashes(i._1)).distinct
      assert(hs.size == 1, s"dup texts hash differently: $hs")
    }
    // driver recompute from the generator formula (no decoder)
    def splitmix(z0: Long): Long = {
      var z = z0
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^ (z >>> 31)
    }
    texts.take(50).foreach { case (id, text) =>
      val ch = graft.functions.TextHashFunctions.fnv64(
        text.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      val w = java.lang.Long.remainderUnsigned(ch, 31).toInt + 2
      val h = java.lang.Long.remainderUnsigned(ch, 23).toInt + 2
      val lum = for (j <- 0 until 8; i <- 0 until 8) yield {
        val x = (2 * i + 1) * w / 16; val y = (2 * j + 1) * h / 16
        val rgb = (splitmix(ch + x * 0x9E3779B97F4A7C15L +
          y * 0xC2B2AE3D27D4EB4FL) & 0xFFFFFF).toInt
        299L * ((rgb >> 16) & 0xff) + 587L * ((rgb >> 8) & 0xff) +
          114L * (rgb & 0xff)
      }
      val sum = lum.sum
      val bands = Array.fill(4)(0L)
      lum.zipWithIndex.foreach { case (l, k) =>
        if (l * 64 > sum) bands(k / 16) |= 1L << (k % 16)
      }
      assert(hashes(id) == ((w, h, bands(0), bands(1), bands(2), bands(3))),
        s"decode-path hash diverges from generator recompute for doc $id")
    }
    media.unpersist()
  }

  test("image phash dedup pipeline: planted dup pairs found, noise pairs rejected") {
    // content-seeded noise rasters are either identical (same text) or
    // uncorrelated (hamming ~32): over a corpus with PLANTED re-keyed
    // copies, the banded-hamming pipeline must find exactly the planted
    // pairs at hamming 0 (the registered query runs the same operators
    // over the memoized per-dir table; here the pipeline is exercised
    // on the planted corpus directly)
    val base = Tables.documents(spark, sf)
    val planted = base.unionByName(
      base.orderBy(col("doc_id")).limit(10)
        .withColumn("doc_id", col("doc_id") + 1000000L))
    val ph = Multimodal.imageAHash(
      Multimodal.contentImageTable(planted)).toDF()
    val buckets = ph.select(col("media_id").as("id"),
        explode(array((0 to 3).map(t =>
          struct(lit(t.toLong).as("band"), col(s"b$t").as("bucket"))): _*))
          .as("e"))
      .select(col("e.band").as("band"), col("e.bucket").as("bucket"),
        col("id"))
    val pairs = graft.operators.Dedup.bucketPairs(buckets)
    val hx = (t: Int) => graft.functions.TextHashFunctions
      .hamming64(col(s"a$t"), col(s"z$t")).cast("long")
    val got = pairs
      .join(ph.select(col("media_id").as("id_a"), col("b0").as("a0"),
        col("b1").as("a1"), col("b2").as("a2"), col("b3").as("a3")),
        Seq("id_a"))
      .join(ph.select(col("media_id").as("id_b"), col("b0").as("z0"),
        col("b1").as("z1"), col("b2").as("z2"), col("b3").as("z3")),
        Seq("id_b"))
      .withColumn("hamming", hx(0) + hx(1) + hx(2) + hx(3))
      .filter(col("hamming") <= 3)
      .select(col("id_a"), col("id_b"), col("hamming"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val expected = planted.select(col("doc_id"), col("text"))
      .as[(Long, String)].collect()
      .groupBy(_._2).values.filter(_.length > 1)
      .flatMap { g =>
        val ids = g.map(_._1).sorted
        for (i <- ids.indices; j <- (i + 1) until ids.length)
          yield (math.min(ids(i), ids(j)), math.max(ids(i), ids(j)))
      }.toSet
    assert(got.forall(_._3 == 0L), "noise rasters: only exact dups expected")
    assert(got.map(t => (math.min(t._1, t._2), math.max(t._1, t._2))).toSet
      == expected,
      s"pair set mismatch: got ${got.length}, expected ${expected.size}")
    // and the registered query agrees with its oracle shape at this sf
    // (may be empty on a dup-free fixture — the value evidence lands at
    // sf0.1, which carries 8 genuine dup pairs)
    val q = SparkEntry.queries("q_image_phash_dups")(spark, sf).collect()
    assert(q.forall(_.getLong(2) <= 3L))
  }

  test("real audio codec: decoded WAV stats match the generator (lossless PCM)") {
    val docs = Tables.documents(spark, sf).limit(40)
    val media = Multimodal.syntheticAudioTable(docs)
    val stats = Multimodal.audioFeatures(media).collect()
    assert(stats.length == 40)
    stats.foreach { s =>
      // container parse must recover the generator's format exactly
      assert(s.sample_rate == 16000, s"rate ${s.sample_rate}")
      assert(s.n_samples == s.media_id % 400 + 100,
        s"decoded sample count diverges for ${s.media_id}")
      // EXACT replay: the decoded integer moments must equal a
      // driver-side recompute of the triangle waveform — the same
      // independence the per-sample SQL oracle has
      var esq = 0L; var eabs = 0L; var ezc = 0L; var prev = true
      (0L until s.n_samples).foreach { i =>
        val v = Multimodal.AudioCodec.sample(s.media_id, i)
        esq += v * v; eabs += math.abs(v)
        val pos = v >= 0
        if (i > 0 && pos != prev) ezc += 1
        prev = pos
      }
      assert((s.sum_sq, s.sum_abs, s.zero_crossings) == ((esq, eabs, ezc)),
        s"decoded moments diverge from generator recompute for ${s.media_id}")
      // square carrier × uniform noise: rms ≈ amp·√(E[g²])/32768 with
      // amp ∈ [2, 8], g ∈ 1..3600 → roughly (0.12, 0.52)
      val rms = math.sqrt(s.sum_sq.toDouble / s.n_samples) / 32768.0
      assert(rms > 0.1 && rms < 0.55, s"non-physical RMS $rms")
      assert(s.zero_crossings > 0, "the square carrier crosses zero")
    }
    val again = Multimodal.audioFeatures(
      Multimodal.syntheticAudioTable(docs.repartition(5))).collect()
    assert(stats.map(s => s.media_id -> (s.sum_sq, s.zero_crossings)).toMap ==
      again.map(s => s.media_id -> (s.sum_sq, s.zero_crossings)).toMap,
      "decode must be deterministic under repartitioning")
  }

  test("audio aHash: content dups hash identically; planted dup pairs found, noise rejected") {
    // the audio twin of the image phash dedup test: content-seeded
    // triangle WAVs are either bit-identical (same text) or
    // uncorrelated; over a corpus with PLANTED re-keyed copies the
    // banded-hamming pipeline must find exactly the planted pairs at
    // hamming 0
    val base = Tables.documents(spark, sf)
    val planted = base.unionByName(
      base.orderBy(col("doc_id")).limit(10)
        .withColumn("doc_id", col("doc_id") + 1000000L))
    val ph = Multimodal.audioAHash(
      Multimodal.contentAudioTable(planted)).toDF().persist()
    val texts = planted.select(col("doc_id"), col("text"))
      .as[(Long, String)].collect()
    val hs = ph.collect().map(r =>
      r.getLong(0) -> (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
      .toMap
    texts.groupBy(_._2).filter(_._2.length > 1).foreach { case (_, ids) =>
      assert(ids.map(i => hs(i._1)).distinct.size == 1,
        "dup texts must hash identically")
    }
    val got = graft.operators.Dedup.bandedHashDups(ph).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val expected = texts.groupBy(_._2).values.filter(_.length > 1)
      .flatMap { g =>
        val ids = g.map(_._1).sorted
        for (i <- ids.indices; j <- (i + 1) until ids.length)
          yield (ids(i), ids(j))
      }.toSet
    assert(got.forall(_._3 == 0L), "noise waveforms: only exact dups expected")
    assert(got.map(t => (math.min(t._1, t._2), math.max(t._1, t._2))).toSet
      == expected,
      s"pair set mismatch: got ${got.length}, expected ${expected.size}")
    ph.unpersist()
  }

  test("incremental banded dedup equals the full-corpus run restricted to new x corpus") {
    // the maintainability contract (VERDICT r15 Next #5): probing a
    // persisted band index with a batch must find exactly the pairs the
    // batch-inclusive full run finds between batch and corpus ids
    val base = Tables.documents(spark, sf)
    val planted = base.unionByName(
      base.orderBy(col("doc_id")).limit(10)
        .withColumn("doc_id", col("doc_id") + 1000000L))
    val ph = Multimodal.imageAHash(
      Multimodal.contentImageTable(planted)).toDF().persist()
    val batch = ph.filter(col("media_id") >= 1000000L)
    val corpus = ph.filter(col("media_id") < 1000000L)
    // round-trip the index through parquet — it is a PERSISTED artifact
    val dir = tempDir("graft_imgidx").toString
    val built = graft.operators.Dedup.bandHashIndex(corpus)
    built.buckets.write.parquet(s"$dir/buckets")
    built.hashes.write.parquet(s"$dir/hashes")
    val idx = graft.operators.Dedup.BandHashIndex(
      spark.read.parquet(s"$dir/buckets"), spark.read.parquet(s"$dir/hashes"))
    val inc = graft.operators.Dedup.incrementalBandedDedup(batch, idx)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val full = graft.operators.Dedup.bandedHashDups(ph).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .filter { case (a, b) => (a >= 1000000L) != (b >= 1000000L) }
      .map { case (a, b) => if (a >= 1000000L) (a, b) else (b, a) }.toSet
    assert(inc == full,
      s"incremental probe diverges from full run: inc=${inc.size} full=${full.size}")
    assert(inc.size == 10, "each planted copy must match its original")
    ph.unpersist()
  }

  test("video temporal aHash: content dups hash identically; planted dup pairs found, noise rejected") {
    // the video leg of the multimodal near-dup triad (r17): content-
    // seeded MJPEG clips are either bit-identical (same text) or
    // unrelated splitmix rasters; over a corpus with PLANTED re-keyed
    // copies the shared banded-hamming pipeline must find exactly the
    // planted pairs at hamming 0, and reject everything else — the
    // discrimination census the audio family established
    val base = Tables.documents(spark, sf)
    val planted = base.unionByName(
      base.orderBy(col("doc_id")).limit(10)
        .withColumn("doc_id", col("doc_id") + 1000000L))
    val ph = Multimodal.videoAHash(
      Multimodal.contentVideoTable(planted)).toDF().persist()
    val texts = planted.select(col("doc_id"), col("text"))
      .as[(Long, String)].collect()
    val hs = ph.collect().map(r =>
      r.getLong(0) -> (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
      .toMap
    texts.groupBy(_._2).filter(_._2.length > 1).foreach { case (_, ids) =>
      assert(ids.map(i => hs(i._1)).distinct.size == 1,
        "dup texts must hash identically")
    }
    // discrimination: unrelated clips' temporal-average hashes are
    // ~iid 64-bit patterns — the corpus must not collapse into a few
    // band values (the failure regime the r16 audio redesign fixed)
    assert(hs.values.toSeq.distinct.size > hs.size / 2,
      s"hash space collapsed: ${hs.values.toSeq.distinct.size} distinct of ${hs.size}")
    val got = graft.operators.Dedup.bandedHashDups(ph).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val expected = texts.groupBy(_._2).values.filter(_.length > 1)
      .flatMap { g =>
        val ids = g.map(_._1).sorted
        for (i <- ids.indices; j <- (i + 1) until ids.length)
          yield (ids(i), ids(j))
      }.toSet
    assert(got.forall(_._3 == 0L), "unrelated clips: only exact dups expected")
    assert(got.map(t => (math.min(t._1, t._2), math.max(t._1, t._2))).toSet
      == expected,
      s"pair set mismatch: got ${got.length}, expected ${expected.size}")
    // generator parity: decoded frame count must equal the content-hash
    // derived clip length (the real container walk, not metadata)
    val nf = ph.select(col("media_id"), col("n_frames"))
      .as[(Long, Long)].collect().toMap
    texts.take(40).foreach { case (id, text) =>
      val ch = graft.functions.TextHashFunctions.fnv64(
        text.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      assert(nf(id) == java.lang.Long.remainderUnsigned(ch, 12) + 2,
        s"decoded frame count diverges from generator for $id")
    }
    ph.unpersist()
    // the registered planted-witness query: each of its 10 re-keyed
    // copies must pair with its original at hamming 0
    val q = SparkEntry.queries("q_video_phash_dups")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val plantedIds = base.orderBy(col("doc_id")).limit(10)
      .select(col("doc_id")).as[Long].collect().toSet
    val witness = q.filter { case (a, b, _) =>
      (b >= 1000000000L) && plantedIds(a) }
    assert(witness.length == 10 && witness.forall(_._3 == 0L),
      s"planted-witness pairs: got ${witness.length} of 10")
  }

  test("q_audio_decode: deterministic rows from genuine PCM samples") {
    val q = SparkEntry.queries("q_audio_decode")
    val a = q(spark, sf).collect()
    assert(a.length == 500 && a.sameElements(q(spark, sf).collect()))
  }

  test("real video codec: parsed AVI container + decoded frames match the generator") {
    val docs = Tables.documents(spark, sf).limit(40)
    val media = Multimodal.syntheticVideoTable(docs)
    val stats = Multimodal.videoFeatures(media).collect()
    assert(stats.length == 40)
    stats.foreach { s =>
      val id = s.media_id
      // container walk must recover the generator's clip shape exactly
      assert(s.vid_width == (id % 9 + 2).toInt * 2, s"width for $id")
      assert(s.vid_height == (id % 7 + 2).toInt * 2, s"height for $id")
      assert(s.n_frames == (id % 12 + 2).toInt, s"avih frame count for $id")
      // header-declared count must agree with the counted 00dc chunks
      assert(s.n_frames_decoded == s.n_frames,
        s"movi chunk count ${s.n_frames_decoded} != avih ${s.n_frames} for $id")
      val fps = (id % 4 + 1).toInt * 5
      assert(s.duration_ms == s.n_frames.toLong * (1000000 / fps) / 1000L,
        s"duration for $id")
      // splitmix rasters are ~uniform noise → decoded luma mid-range;
      // a broken walk (garbage offsets) dies in ImageIO.read long before
      assert(s.mean_luma > 64 && s.mean_luma < 192,
        s"non-physical luma ${s.mean_luma} for $id")
    }
    val again = Multimodal.videoFeatures(
      Multimodal.syntheticVideoTable(docs.repartition(5))).collect()
    assert(stats.map(s => s.media_id -> (s.n_frames, s.mean_luma)).toMap ==
      again.map(s => s.media_id -> (s.n_frames, s.mean_luma)).toMap,
      "decode must be deterministic under repartitioning")
    // the cheap metadata path reads the same container truth, no pixels
    val meta = Multimodal.videoMeta(media).collect()
      .map(m => m.media_id -> (m.n_frames, m.duration_ms)).toMap
    assert(stats.forall(s => meta(s.media_id) == ((s.n_frames, s.duration_ms))),
      "parseMeta and decodeFrames must agree on the container")
  }

  test("q_video_decode: deterministic rows from genuine container bytes") {
    val q = SparkEntry.queries("q_video_decode")
    val a = q(spark, sf).collect()
    assert(a.length == 500 && a.sameElements(q(spark, sf).collect()))
  }

  test("itemNeighbors: planted co-occurrence gives exact cosine/jaccard") {
    // users 1,2 rate {10,20}; user 3 rates {10,30}:
    // c(10)=3 c(20)=2 c(30)=1; c12(10,20)=2, c12(10,30)=1
    val r = Seq((1L, 10L), (1L, 20L), (2L, 10L), (2L, 20L), (3L, 10L),
      (3L, 30L)).toDF("userId", "movieId").withColumn("rating", lit(5.0))
    val out = Recommend.itemNeighbors(r, cap = 50, topK = 5, minSupport = 1L)
      .collect().map(x => (x.getLong(0), x.getLong(1)) ->
        (x.getLong(2), x.getDouble(3), x.getDouble(4))).toMap
    assert(out((10L, 20L)) == ((2L, 0.816497, 0.666667))) // 2/sqrt(6), 2/(3+2-2)
    assert(out((10L, 30L)) == ((1L, 0.57735, 0.333333))) // 1/sqrt(3), 1/3
    assert(out((20L, 10L))._1 == 2L && out((30L, 10L))._1 == 1L)
    // top-k ordering: 10's best neighbor is 20 (higher cosine)
    val ranked = Recommend.itemNeighbors(r, minSupport = 1L)
      .filter(col("item") === 10L)
      .orderBy(col("rn")).select(col("nbr")).as[Long].collect().toSeq
    assert(ranked == Seq(20L, 30L))
    // default min-support 2: the single-co-occurrence pair is noise-cut
    val supported = Recommend.itemNeighbors(r)
      .select(col("item"), col("nbr")).as[(Long, Long)].collect().toSet
    assert(supported == Set((10L, 20L), (20L, 10L)))
  }

  test("itemNeighbors: interaction cap bounds a power user's expansion") {
    // user 9 rates 60 items; cap 50 keeps the 50 SMALLEST ids, so no
    // pair may touch ids 50..59, and every kept pair count is 1
    val power = (0L until 60L).map(i => (9L, i))
    val r = power.toDF("userId", "movieId").withColumn("rating", lit(1.0))
    val pairsTouched = Recommend
      .itemNeighbors(r, cap = 50, topK = 1000, minSupport = 1L)
      .select(col("item"), col("nbr")).as[(Long, Long)].collect()
    assert(pairsTouched.nonEmpty)
    assert(pairsTouched.forall { case (a, b) => a < 50 && b < 50 })
  }

  test("item index artifact: torn version reads as absent → rebuild; warm load serves without refit, bit-identical") {
    import graft.operators.Artifacts
    val r = Seq((1L, 10L), (1L, 20L), (2L, 10L), (2L, 20L), (3L, 10L),
      (3L, 20L)).toDF("userId", "movieId").withColumn("rating", lit(5.0))
    val root = tempDir("graft_item_torn")
      .toString + "/idx"
    // torn: a partial pointerless v=1 (crash between write and publish)
    new java.io.File(s"$root/v=1/idx").mkdirs()
    val (idx1, cap1) = Artifacts.loadOrBuildItemIndex(spark, root, r)
    assert(Artifacts.latestVersion(spark, root).exists(_.endsWith("v=2")),
      "publish skips past the torn v=1")
    assert(idx1.count() == 2 && cap1.count() == 6)
    // warm: loads the published version — values bit-identical, and a
    // poisoned ratings thunk proves no refit touches the input
    val (idx2, _) = Artifacts.loadOrBuildItemIndex(spark, root,
      sys.error("warm load must not re-read ratings"))
    assert(idx1.collect().toSet == idx2.collect().toSet)
  }

  test("q_item_recs: never recommends owned items; ranked top-3 per user") {
    val recs = SparkEntry.queries("q_item_recs")(spark, sf).collect()
    assert(recs.nonEmpty)
    val wUser = org.apache.spark.sql.expressions.Window
      .partitionBy(col("userId")).orderBy(col("movieId"))
    val owned = Tables.ratings(spark, sf)
      .select(col("userId"), col("movieId")).distinct()
      .withColumn("__rn", row_number().over(wUser))
      .filter(col("__rn") <= 30)
      .select(col("userId"), col("movieId")).as[(Long, Long)]
      .collect().toSet
    recs.groupBy(_.getLong(0)).foreach { case (u, rows) =>
      val sorted = rows.sortBy(_.getLong(4))
      assert(sorted.map(_.getLong(4)).toSeq == (1L to sorted.length).toSeq)
      assert(sorted.length <= 3)
      // scores non-increasing in rank; no owned item recommended
      sorted.sliding(2).foreach {
        case Array(a, b) => assert(a.getDouble(2) >= b.getDouble(2))
        case _ => ()
      }
      sorted.foreach(r => assert(!owned.contains((u, r.getLong(1)))))
    }
  }
}
