package graft

import org.apache.spark.sql.functions._

/** Invariant coverage for the round-5 curation-analytics queries
  * (q_dsir_weights, q_mad_outliers, q_source_overlap, q_seq_len_plan,
  * q_events_retention, q_embed_centroids). All six are fully
  * DuckDB-oracled; these tests pin the SEMANTIC claims the value-level
  * oracle can't express — separation direction, flag thresholds,
  * conservation laws — plus planted fixtures for the two scoring gates.
  */
class CurationSpec extends SparkTestBase {
  import spark.implicits._

  private def q(name: String) = SparkEntry.queries(name)(spark, sf)

  test("q_dsir_weights: target-domain docs score above the rest (separation)") {
    val docs = graft.Tables.documents(spark, sf).select("doc_id", "source")
    val scored = q("q_dsir_weights").join(docs, Seq("doc_id"))
      .groupBy(col("source") === "src0")
      .agg(avg(col("avg_logratio")).as("m"))
      .collect().map(r => r.getBoolean(0) -> r.getDouble(1)).toMap
    // DSIR's whole premise: under the target-LM/corpus-LM log-ratio, the
    // target domain's own docs must land strictly above the others.
    assert(scored(true) > scored(false),
      s"src0 mean ${scored(true)} not above rest ${scored(false)}")
    assert(scored(true) > 0 && scored(false) < 0)
  }

  test("q_dsir_select: the target domain is enriched by the cut") {
    val kept = q("q_dsir_select").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val total = kept.values.sum
    // global cut keeps 125/500 = 25%; src0 has 25 docs — its survival
    // rate must far exceed the base rate (that's what the weights are FOR)
    val src0Rate = kept.getOrElse("src0", 0L).toDouble / 25.0
    val baseRate = total.toDouble / 500.0
    assert(src0Rate >= 2 * baseRate,
      s"src0 survival $src0Rate not enriched over base $baseRate")
    assert(kept.getOrElse("src0", 0L) == kept.values.max,
      "src0 must keep the most docs of any source")
  }

  test("q_mad_outliers: planted extreme length is flagged, bulk is not") {
    val dir = tempDir("mad").toString
    val docs = ((1 to 60).map(i => (i.toLong, "plain text here", "en", "src0",
      (100 + i % 7).toLong)) :+ (999L, "huge", "en", "src0", 5000000L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = SparkEntry.queries("q_mad_outliers")(spark, dir)
      .select("doc_id", "robust_z", "is_outlier").collect()
    val flagged = out.filter(_.getBoolean(2)).map(_.getLong(0)).toSet
    assert(flagged == Set(999L), s"expected only planted doc, got $flagged")
    // flag is a pure function of the ROUNDED z (cross-engine contract)
    out.foreach(r => assert(r.getBoolean(2) == (math.abs(r.getDouble(1)) > 3.5)))
  }

  test("q_mad_outliers: sf fixture — z ordering follows |n_chars - median|") {
    val rows = q("q_mad_outliers").collect()
    assert(rows.length == 500)
    val z = rows.map(r => r.getLong(1) -> r.getDouble(2))
    // robust_z is a strictly monotone map of n_chars (shared med/mad):
    // sorting by n_chars must sort by z.
    val byChars = z.sortBy(_._1).map(_._2)
    assert(byChars.zip(byChars.tail).forall { case (a, b) => a <= b })
  }

  test("q_source_overlap: pair orientation and lower bound") {
    val rows = q("q_source_overlap").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getString(0) < r.getString(1), "pairs must be src_a < src_b")
      assert(r.getLong(2) >= 1L)
    }
  }

  test("q_seq_len_plan: doc conservation + pad bounds + fill ratio") {
    val rows = q("q_seq_len_plan").collect()
    val nDocs = rows.map(_.getLong(1)).sum
    assert(nDocs == 500L)
    rows.foreach { r =>
      val (n, sumTok, sumPad, fill) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))
      assert(sumPad >= 0 && sumPad <= 63L * n, "per-doc pad is in [0, 63]")
      assert(fill > 0.0 && fill <= 1.0)
      assert(math.abs(fill - sumTok.toDouble / (sumTok + sumPad)) < 1e-6)
    }
  }

  test("q_events_retention: offset-0 equals cohort size, retention never exceeds it") {
    val rows = q("q_events_retention").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val day0 = rows.filter(_._2 == 0L).map(t => t._1 -> t._3).toMap
    // every cohort has an offset-0 row (its members were active that day)
    val cohorts = rows.map(_._1).distinct
    assert(cohorts.forall(day0.contains))
    rows.foreach { case (c, off, n) =>
      assert(off >= 0L)
      assert(n <= day0(c), s"cohort $c offset $off: $n > cohort size ${day0(c)}")
    }
    // cohort sizes partition the user base
    val users = graft.Tables.events(spark, sf)
      .select(countDistinct(col("user_id"))).first().getLong(0)
    assert(day0.values.sum == users)
  }

  test("q_embed_centroids: hand-computed fixture") {
    val dir = tempDir("cent").toString
    Seq((1L, Array(1.0f, 3.0f), 0), (2L, Array(3.0f, 5.0f), 0),
      (3L, Array(10.0f, 0.0f), 1))
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val out = SparkEntry.queries("q_embed_centroids")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    // centroid serialized as comma-joined DECIMAL(20,6) — the harness
    // sortability contract (raw arrays broke the r5 oracle run)
    assert(out.toSeq == Seq(
      (0L, 2L, "2.000000,4.000000"), (1L, 1L, "10.000000,0.000000")))
  }

  test("dsirWeight column form ≡ q_dsir_weights join form (fit/apply split)") {
    val docs = graft.Tables.documents(spark, sf)
    val m = graft.operators.TextAnalysis.trainDsirLms(docs, col("source") === "src0")
    val colForm = docs.select(col("doc_id"),
      round(graft.operators.TextAnalysis.dsirWeight(m)(col("text")), 6).as("w"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val joinForm = q("q_dsir_weights")
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(colForm.keySet == joinForm.keySet)
    // identical math, different plan shape: the map-literal column must
    // reproduce the broadcast-join query bit-for-bit at 6dp
    val diffs = colForm.collect {
      case (id, w) if w != joinForm(id) => (id, w, joinForm(id))
    }
    assert(diffs.isEmpty, s"mismatches: ${diffs.take(5)}")
  }

  test("q_embed_centroids: sf fixture — dims preserved, vec conservation") {
    val rows = q("q_embed_centroids").collect()
    assert(rows.map(_.getLong(1)).sum == 500L)
    rows.foreach(r => assert(r.getString(2).split(",").length == 64))
  }

  test("q_events_anomaly: a dead feed (planted gap) is gap-filled and flagged") {
    val dir = tempDir("anomaly").toString
    // 40 hours of alternating volume (so the trailing stddev is nonzero),
    // with hours 30-32 completely absent — the dead-feed case
    val rows = (0 until 40).filterNot(h => h >= 30 && h <= 32).flatMap { h =>
      val n = if (h % 2 == 0) 90 else 110
      (0 until n).map(i => (h.toLong * 1000 + i,
        (h.toLong * 3600L + i) * 1000000000L, // ns epoch like the fixture
        (i % 7).toLong, "click", 1.0, "{}"))
    }
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = SparkEntry.queries("q_events_anomaly")(spark, dir)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(3))).toMap
    // the gap hours EXIST in the output (gap-fill) with n=0 and are flagged
    (30L to 32L).foreach { h =>
      assert(out.contains(h), s"hour $h missing — dead feed invisible")
      assert(out(h)._1 == 0L && out(h)._2, s"hour $h must flag as anomaly: ${out(h)}")
    }
    // normal alternation is NOT flagged
    assert(!out(20L)._2 && !out(21L)._2)
  }

  test("fitQualityLr: null texts are gated, not a crash") {
    val docs = Seq((1L, "the data and the table in the batch", "en", "s", 35L),
      (2L, null.asInstanceOf[String], "en", "s", 0L),
      (3L, "$$% ##@ !!++ ^^&&", "en", "s", 17L),
      (4L, "a key for the scan and the sort", "en", "s", 31L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val m = graft.operators.TextAnalysis.fitQualityLr(docs,
      graft.operators.TextAnalysis.qualityScore(col("text")) >= 0.5)
    assert(m.weights.length == graft.operators.TextAnalysis.qualityLrDim)
  }

  test("q_events_anomaly: warmup excluded, flag is a pure function of rounded z") {
    val rows = q("q_events_anomaly").collect()
    assert(rows.length > 24, "a month of hours minus warmup must remain")
    rows.foreach { r =>
      val z = r.getDouble(2)
      assert(!z.isNaN && !z.isInfinite)
      assert(r.getBoolean(3) == (math.abs(z) > 3.0))
    }
    // hours are strictly increasing (one row per aggregated hour)
    val hrs = rows.map(_.getLong(0))
    assert(hrs.zip(hrs.tail).forall { case (a, b) => a < b })
  }

  test("q_corpus_pipeline: every surviving doc passed every gate") {
    val rows = q("q_corpus_pipeline").collect()
    val kept = rows.map(_.getLong(1)).sum
    val train = graft.Tables.documents(spark, sf)
      .filter(pmod(col("doc_id"), lit(10)) =!= 7).count()
    assert(kept > 0 && kept < train, s"pipeline must cut something: $kept of $train")
    // per-source mean quality can't be below the gate threshold
    rows.foreach(r => assert(r.getDouble(3) >= 0.75,
      s"source ${r.getString(0)} mean_quality ${r.getDouble(3)} below the gate"))
  }

  test("q_decontaminate: removes contaminated train docs, keeps the rest") {
    val kept = q("q_decontaminate").collect().map(_.getLong(1)).sum
    val train = graft.Tables.documents(spark, sf)
      .filter(pmod(col("doc_id"), lit(10)) =!= 7).count()
    // q_contamination's report is non-empty on this fixture, so the
    // removal must actually drop docs — but never a majority
    assert(kept < train, s"no docs removed ($kept of $train)")
    assert(kept > train / 2, s"removed a majority ($kept of $train)")
    // removed ids are exactly the distinct doc_ids q_contamination flags
    val flagged = q("q_contamination").select(col("doc_id")).distinct().count()
    assert(train - kept == flagged,
      s"removed ${train - kept} != flagged $flagged")
  }

  test("decontaminateBloom ≡ decontaminate (bit-identical survivors), bloom filter in-plan") {
    val base = graft.Tables.documents(spark, sf)
    val bench = base.filter(pmod(col("doc_id"), lit(10)) === 7)
    val train = base.filter(pmod(col("doc_id"), lit(10)) =!= 7)
    val exact = graft.operators.TextAnalysis.decontaminate(train, bench)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    val bloomed = graft.operators.TextAnalysis.decontaminateBloom(train, bench)
    val got = bloomed.select(col("doc_id")).collect().map(_.getLong(0)).toSet
    // no false negatives (bloom) + exact verify join ⇒ identical survivors
    assert(got == exact,
      s"bloom path diverged: ${(got -- exact).take(5)} extra, ${(exact -- got).take(5)} missing")
    // the pre-filter must actually be IN the plan (in-scan predicate,
    // before any explode/join) — that's the whole 100 TB point
    val plan = bloomed.queryExecution.executedPlan.toString
    assert(plan.contains("bloomgramhit") || plan.contains("BloomGramHit"),
      s"bloom predicate missing from physical plan")
  }

  test("q_corpus_pipeline_v2: v1 survivors + relevance column, bloom-exact composition") {
    val v1 = q("q_corpus_pipeline").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    val v2full = q("q_corpus_pipeline_v2").collect()
    val v2 = v2full
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    // bloom decontamination is exact → per-source survivor counts, char
    // totals and mean quality are IDENTICAL to the v1 pipeline
    assert(v2 == v1, s"v2 diverged from v1:\n$v2\nvs\n$v1")
    // the added relevance column is a bounded mean of nonneg scores
    v2full.foreach { r =>
      val rel = r.getDouble(4)
      assert(rel >= 0.0 && rel < 50.0, s"source ${r.getString(0)} mean_relevance $rel")
    }
  }

  test("BloomGramHit semantics: no false negatives, early-exit edge cases") {
    import spark.implicits._
    val bench = Seq((1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "tiny doc")).toDF("doc_id", "text") // doc 2: m<n whole-doc gram
    val pred = graft.operators.TextAnalysis.benchGrams(bench, 5).probe(col("text"), 0.01)
    val probe = Seq(
      (1L, "alpha beta gamma delta epsilon"),      // exact 5-gram overlap → true
      (2L, "TINY, doc!"),                           // normalizes to the m<n gram → true
      (3L, "completely unrelated words here now"),  // overlap impossible → (almost surely) false
      (4L, ""),                                     // no tokens → false, guaranteed
      (5L, "beta gamma delta epsilon zeta")         // the other 5-gram → true
    ).toDF("doc_id", "text")
    val hits = probe.select(col("doc_id"), pred.as("hit")).collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(hits(1L) && hits(2L) && hits(5L), s"false negative: $hits")
    assert(!hits(4L), "token-less text must never hit")
  }

  test("BloomHit (scalar probe): no false negatives over an index snapshot; codegen'd") {
    import spark.implicits._
    // the curationIntake gate-4 shape: bloom over an md5 index snapshot
    val known = (0 until 1000).map(i => s"known doc $i").toDF("text")
      .select(md5(col("text")).as("content_hash"))
    val bloom = known.stat.bloomFilter("content_hash", 1000L, 0.001)
    val pred = graft.functions.TextHashFunctions
      .bloom_hit(col("content_hash"), bloom)
    // every known hash MUST flag (false negatives would admit dups)
    val knownMisses = known.filter(!pred).count()
    assert(knownMisses == 0L, s"$knownMisses false negatives")
    // novel hashes mostly don't flag (fpp 0.001 over 2000 probes —
    // allow generous slack; the gate only needs "usually skipped")
    val novel = (0 until 2000).map(i => s"novel doc $i").toDF("text")
      .select(md5(col("text")).as("content_hash"))
    val novelHits = novel.filter(pred).count()
    assert(novelHits < 100L, s"$novelHits of 2000 novel hashes flagged")
    // stays inside whole-stage codegen (the in-scan predicate claim) —
    // through a real scan: ConvertToLocalRelation folds a filter over a
    // local Seq away entirely
    val dir = tempDir("graft_bloomhit").toString
    novel.write.mode("overwrite").parquet(dir)
    val probe = spark.read.parquet(dir).filter(pred)
    probe.collect()
    // the `*(n)` stage marker is the collapsed-form spelling of
    // WholeStageCodegen — the filter must carry it (a fallback to
    // interpreted eval would print a bare `Filter`)
    val plan = probe.queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Filter bloomhit"), plan)
  }

  test("q_embed_dispersion: cohesion bounded, centroid pull positive") {
    val rows = q("q_embed_dispersion").collect()
    assert(rows.map(_.getLong(1)).sum == 500L)
    rows.foreach { r =>
      val (mean, min) = (r.getDouble(2), r.getDouble(3))
      // members lean toward their own centroid on average (mean > 0),
      // even when the worst member points away (min can be negative)
      assert(mean > 0.0 && mean <= 1.0, s"mean_cos $mean out of range")
      assert(min <= mean)
    }
  }

  test("q_quality_classifier: agrees with the heuristic teacher it distills") {
    val teacher = graft.Tables.documents(spark, sf).select(col("doc_id"),
      (graft.operators.TextAnalysis.qualityScore(col("text")) >= 0.77).as("t"))
    val rows = q("q_quality_classifier").join(teacher, Seq("doc_id"))
      .select(col("t"), col("pred_keep")).collect()
    val acc = rows.count(r => r.getBoolean(0) == r.getBoolean(1))
      .toDouble / rows.length
    // the student is a smooth linear gate over the same lexical signals
    // the teacher thresholds — agreement well above the ~0.5 base rate
    assert(acc >= 0.85, s"teacher agreement $acc below floor")
  }

  test("fitQualityLr: deterministic (pinned fit input) and gates planted soup") {
    val docs = graft.Tables.documents(spark, sf)
    val isEn = graft.operators.TextAnalysis.qualityScore(col("text")) >= 0.77
    val m1 = graft.operators.TextAnalysis.fitQualityLr(docs, isEn)
    val m2 = graft.operators.TextAnalysis.fitQualityLr(docs, isEn)
    assert(m1.intercept == m2.intercept &&
      m1.weights.sameElements(m2.weights), "refit must be bit-identical")
    // planted gate: clean English-looking text vs punctuation soup
    val score = graft.operators.TextAnalysis.qualityLrScore(m1) _
    val out = Seq(
      ("the data and the table in the batch is a key for the scan", "clean"),
      ("$$% ##@ !!++ ^^&& ;;:: ??// ||\\\\ @@!! %%$$ &&^^", "soup"))
      .toDF("text", "kind")
      .select(col("kind"), score(col("text")).as("s"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(out("clean") > out("soup"),
      s"clean ${out("clean")} must outscore soup ${out("soup")}")
  }

  test("fitQualityLr: fit input is bounded — capped fit stays deterministic") {
    // past the cap the content-hash sample must (a) actually bound the
    // fit input and (b) stay a pure function of content: two fits at the
    // same cap are bit-identical, and a cap below n changes the model
    // (proof the sample path engaged, not a silent full fit)
    val docs = graft.Tables.documents(spark, sf)
    val teacher = graft.operators.TextAnalysis.qualityScore(col("text")) >= 0.77
    val full = graft.operators.TextAnalysis.fitQualityLr(docs, teacher)
    val capped1 = graft.operators.TextAnalysis.fitQualityLr(docs, teacher, fitCap = 100L)
    val capped2 = graft.operators.TextAnalysis.fitQualityLr(docs, teacher, fitCap = 100L)
    assert(capped1.intercept == capped2.intercept &&
      capped1.weights.sameElements(capped2.weights),
      "capped fit must be deterministic")
    assert(capped1.intercept != full.intercept ||
      !capped1.weights.sameElements(full.weights),
      "cap of 100 on a 500-doc corpus must change the fit input")
  }

  test("contaminationPlan: broadcast and shuffle paths are value-equal, choice visible") {
    val base = graft.Tables.documents(spark, sf)
    val bench = base.filter(pmod(col("doc_id"), lit(10)) === 7)
    val train = base.filter(pmod(col("doc_id"), lit(10)) =!= 7)
    val bPlan = graft.operators.TextAnalysis.contaminationPlan(train, bench)
    val sPlan = graft.operators.TextAnalysis.contaminationPlan(train, bench,
      maxBroadcastGrams = 0L) // force the fallback
    assert(bPlan.broadcastUsed && !sPlan.broadcastUsed, "guard decision exposed")
    assert(bPlan.nBenchGrams == sPlan.nBenchGrams && bPlan.nBenchGrams > 0)
    val a = bPlan.contaminatedIds.collect().map(_.getLong(0)).toSet
    val b = sPlan.contaminatedIds.collect().map(_.getLong(0)).toSet
    assert(a == b && a.nonEmpty, "both join strategies must find the same ids")
  }

  test("QualityLrModel save/load: bit-identical weights and served scores") {
    val dir = tempDir("graft_qlr").toString
    val docs = graft.Tables.documents(spark, sf)
    val m = graft.operators.TextAnalysis.fitQualityLr(docs,
      graft.operators.TextAnalysis.qualityScore(col("text")) >= 0.77)
    graft.operators.Artifacts.saveQualityLr(spark, m, dir)
    val re = graft.operators.Artifacts.loadQualityLr(spark, dir)
    assert(re.intercept == m.intercept && re.weights.sameElements(m.weights))
    val scored = docs.limit(50).select(
      graft.operators.TextAnalysis.qualityLrScore(m)(col("text")).as("a"),
      graft.operators.TextAnalysis.qualityLrScore(re)(col("text")).as("b"))
      .filter(col("a") =!= col("b")).count()
    assert(scored == 0, "reloaded model must serve bit-identical scores")
  }

  test("q_source_overlap: null texts produce no phantom cross-source pairs") {
    // Spark's concat_ws over a null token array yields "" — without the
    // null gate two null-text docs from different sources would share
    // the md5("") fingerprint (the ADVICE r5 divergence); the DuckDB
    // twin drops nulls, so the engines would disagree
    val docs = Seq(
      (1L, "srcA", null.asInstanceOf[String]),
      (2L, "srcB", null.asInstanceOf[String]),
      (3L, "srcA", "shared opening tokens run along here plus tail one"),
      (4L, "srcB", "shared opening tokens run along here plus tail two"))
      .toDF("doc_id", "source", "text")
      .withColumn("n_chars", length(coalesce(col("text"), lit(""))).cast("long"))
    val h = docs.filter(col("text").isNotNull)
      .select(col("source"),
        md5(concat_ws(" ", slice(graft.operators.Dedup.tokens(col("text")), 1, 5))).as("fp"))
      .distinct()
    val pairs = h.as("a").join(h.as("b"),
        col("a.fp") === col("b.fp") && col("a.source") < col("b.source"))
      .collect()
    assert(pairs.length == 1, s"exactly the real shared prefix, got ${pairs.length}")
  }

  test("torn QualityLr save (pointerless partial v= dir) → refit + versioned publish") {
    import graft.operators.{Artifacts, TextAnalysis}
    val dir = tempDir("graft_qlr_torn")
      .toString + "/qlr"
    new java.io.File(s"$dir/v=1").mkdirs()
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$dir/v=1/part-00000.parquet"),
      Array[Byte](80, 65, 82, 49))
    val model = TextAnalysis.QualityLrModel(0.25, Array(1.0, -2.0, 0.5))
    var fits = 0
    val got = Artifacts.loadOrFitQualityLr(spark, dir) { fits += 1; model }
    assert(fits == 1, "torn version reads as absent → exactly one fit")
    assert(Artifacts.latestVersion(spark, dir).exists(_.endsWith("v=2")))
    val warm = Artifacts.loadOrFitQualityLr(spark, dir) { fits += 1; model }
    assert(fits == 1, "no refit after the publish")
    assert(warm.intercept == got.intercept &&
      warm.weights.sameElements(got.weights), "bit-identical round-trip")
  }

  test("Bm25Model artifact: versioned publish, warm restart = load not refit, " +
      "bit-identical served scores") {
    import spark.implicits._
    import graft.operators.{Artifacts, TextAnalysis}
    val docs = Seq(
      (1L, "the query stream joins the vector hash"),
      (2L, "a stream of words with no relevance terms"),
      (3L, "query query query"),
      (4L, "")).toDF("doc_id", "text")
    val dir = tempDir("graft_bm25_art")
      .toString + "/bm25"
    var fits = 0
    val fitted = Artifacts.loadOrFitBm25(spark, dir) {
      fits += 1; TextAnalysis.fitBm25(docs, Seq("query", "stream", "vector"))
    }
    assert(fits == 1)
    assert(Artifacts.latestVersion(spark, dir).exists(_.endsWith("v=1")),
      "published through the crash-safe versioned layout")
    val reloaded = Artifacts.loadOrFitBm25(spark, dir) {
      fits += 1; sys.error("warm restart must not refit")
    }
    assert(fits == 1, "warm restart loads, never refits")
    assert(reloaded == fitted, "k1/b/avgdl/idf all IEEE-exact")
    // the contract that matters: a restarted serving job scores
    // bit-identically to the fitting process
    val a = docs.select(TextAnalysis.bm25Score(fitted)(col("text")).as("s"))
      .collect().map(_.getDouble(0))
    val b = docs.select(TextAnalysis.bm25Score(reloaded)(col("text")).as("s"))
      .collect().map(_.getDouble(0))
    assert(java.util.Arrays.equals(a, b), "served scores bit-identical")
  }

  test("LenHistogram artifact: round-trip bit-identical, warm restart = load") {
    import spark.implicits._
    import graft.operators.{Artifacts, TextAnalysis}
    val docs = Seq.tabulate(50)(i => (i.toLong, ("w " * (i % 30 * 6)).trim))
      .toDF("doc_id", "text")
    val dir = tempDir("graft_hist_art")
      .toString + "/hist"
    var fits = 0
    val ref = Artifacts.loadOrFitLenHistogram(spark, dir) {
      fits += 1; TextAnalysis.fitLenHistogram(docs)
    }
    val reloaded = Artifacts.loadOrFitLenHistogram(spark, dir) {
      fits += 1; sys.error("warm restart must not refit")
    }
    assert(fits == 1)
    assert(java.util.Arrays.equals(ref.probs, reloaded.probs),
      "reference distribution bit-identical across restart — the alarm " +
        "threshold cannot silently re-baseline")
  }

  test("lenBucket: null text lands in bucket 0, not the top bucket") {
    import spark.implicits._
    import graft.operators.TextAnalysis
    val docs = Seq((1L, null: String), (2L, ""), (3L, "one two three"),
      (4L, ("w " * 500).trim)).toDF("doc_id", "text")
    val got = docs.select(col("doc_id"),
        TextAnalysis.lenBucket(col("text")).as("b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got(1L) == 0L, s"null text → bucket 0, got ${got(1L)}")
    assert(got(2L) == 0L && got(3L) == 0L)
    assert(got(4L) == 20L, "long doc caps at the top bucket")
  }

  test("snapshotDiff: planted added/removed/changed/unchanged all classified") {
    import spark.implicits._
    val old = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("doc_id", "text")
    val nw = Seq((2L, "b"), (3L, "c-edited"), (4L, "d")).toDF("doc_id", "text")
    val out = graft.operators.DataQuality
      .snapshotDiff(old, nw, "doc_id", md5(col("text")))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out == Map(1L -> "removed", 2L -> "unchanged",
      3L -> "changed", 4L -> "added"))
  }

  test("crossSourceDups: in-source and cross-source twins counted apart") {
    import spark.implicits._
    // s1: x (cross-source twin with s2), y+y (in-source twin pair);
    // s2: x (the cross twin), z (unique)
    val docs = Seq(
      (1L, "s1", "x"), (2L, "s1", "y"), (5L, "s1", "y"),
      (3L, "s2", "x"), (4L, "s2", "z")).toDF("doc_id", "source", "text")
    val out = graft.operators.DataQuality
      .crossSourceDups(docs, col("source"), md5(col("text")))
      .collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    assert(out("s1") == ((3L, 3L, 1L)), s"s1: ${out("s1")}") // x,y,y dup; x cross
    assert(out("s2") == ((2L, 1L, 1L)), s"s2: ${out("s2")}") // x dup+cross; z unique
  }

  test("q_trend_robust: pair algebra consistent; Theil-Sen shrugs off the outlier OLS can't") {
    val row = q("q_trend_robust").head()
    val (nDays, nPairs, mkS) = (row.getLong(0), row.getLong(1), row.getLong(2))
    assert(nPairs == nDays * (nDays - 1) / 2, s"$nPairs vs C($nDays,2)")
    assert(math.abs(mkS) <= nPairs, "MK S is a sum of ±1/0 over the pairs")
    // robustness on a planted series: perfect slope-2 line, one wild
    // outlier day — Theil-Sen stays 2.0 exactly, OLS is dragged
    def stats(ys: Seq[Long]): (Double, Double) = {
      val pts = ys.zipWithIndex.map { case (y, i) => (i.toLong, y) }
      val slopes = (for {
        (xi, yi) <- pts; (xj, yj) <- pts if xi < xj
      } yield (yj - yi).toDouble / (xj - xi)).sorted
      val m = slopes.length
      val ts = (slopes((m + 1) / 2 - 1) + slopes((m + 2) / 2 - 1)) / 2
      val n = pts.length.toDouble
      val (sx, sy) = (pts.map(_._1).sum.toDouble, pts.map(_._2).sum.toDouble)
      val sxy = pts.map(p => p._1 * p._2).sum.toDouble
      val sxx = pts.map(p => p._1 * p._1).sum.toDouble
      (ts, (n * sxy - sx * sy) / (n * sxx - sx * sx))
    }
    val clean = (0 until 20).map(i => 100L + 2 * i)
    val dirty = clean.updated(10, 5000L)
    val (tsC, olsC) = stats(clean)
    val (tsD, olsD) = stats(dirty)
    assert(math.abs(tsC - 2.0) < 1e-12 && math.abs(olsC - 2.0) < 1e-12)
    assert(math.abs(tsD - 2.0) < 0.5, s"Theil-Sen moved to $tsD")
    assert(math.abs(olsD - 2.0) > 1, s"OLS should be dragged, got $olsD")
  }

  test("q_rolling_dau: WAU dominates DAU and unions the trailing week; 7d volume sums dailies") {
    val rows = q("q_rolling_dau").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.nonEmpty)
    val dau = rows.map(t => t._1 -> t._2).toMap
    rows.foreach { case (day, d, w, _) =>
      assert(w >= d, s"day $day: wau $w < dau $d")
      // the window unions ≤7 dailies, so WAU can't exceed their sum
      val cap = (day - 6 to day).flatMap(dau.get).sum
      assert(w <= cap, s"day $day: wau $w > Σdau $cap")
      // ...and can't be smaller than the largest single day in it
      val floorW = (day - 6 to day).flatMap(dau.get).max
      assert(w >= floorW, s"day $day: wau $w < max-day $floorW")
    }
    // n_events_7d re-derives from the per-day event counts
    val e = graft.Tables.events(spark, sf)
      .select(floor(unix_timestamp(col("ts")) / 86400).as("day"))
      .groupBy("day").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    rows.foreach { case (day, _, _, n7) =>
      assert(n7 == (day - 6 to day).flatMap(e.get).sum, s"day $day")
    }
  }

  test("q_concurrency: peak bounded by actives, floored by the busiest instant being ≥1") {
    val conc = q("q_concurrency").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toList
    assert(conc.nonEmpty)
    val dau = q("q_rolling_dau").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    conc.foreach { case (day, peak, nIv) =>
      assert(nIv == dau(day), s"day $day: one interval per active user")
      assert(peak >= 1L && peak <= nIv,
        s"day $day: peak $peak outside [1, $nIv]")
    }
    // hand fixture: 3 overlapping at the peak instant, touch counts
    val ts = Seq(
      (1L, "2024-01-01 10:00:00"), (1L, "2024-01-01 12:00:00"),
      (2L, "2024-01-01 11:00:00"), (2L, "2024-01-01 13:00:00"),
      (3L, "2024-01-01 12:00:00"), (3L, "2024-01-01 12:30:00"),
      (4L, "2024-01-01 14:00:00"), (4L, "2024-01-01 15:00:00"))
      .toDF("user_id", "s").select(col("user_id"),
        to_timestamp(col("s")).as("ts"))
    val iv = ts.groupBy(floor(unix_timestamp(col("ts")) / 86400).as("day"),
        col("user_id"))
      .agg(min(unix_micros(col("ts"))).as("s_us"),
        max(unix_micros(col("ts"))).as("e_us"))
    val bounds = iv.select(col("day"), col("s_us").as("us"), lit(1L).as("delta"))
      .unionAll(iv.select(col("day"), col("e_us").as("us"), lit(-1L).as("delta")))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("day"))
      .orderBy(col("us"), col("delta").desc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val peak = bounds.withColumn("r", sum(col("delta")).over(w))
      .agg(max(col("r"))).first().getLong(0)
    // at 12:00 user 1 ends, user 3 starts, user 2 is mid-interval: the
    // start-before-end tie order counts all three
    assert(peak == 3L, s"peak=$peak")
  }
}
