package graft

import graft.operators.{Dedup, TextAnalysis}
import org.apache.spark.sql.functions._

/** BPE tokenizer-training coverage: the distributed merge loop
  * ([[TextAnalysis.bpeMerges]]) is checked against an INDEPENDENT plain-
  * Scala BPE implementation (the non-oracle twin for the oracle-exempt
  * `q_bpe_vocab`) plus hand-computed fixtures for the greedy rewrite.
  */
class TextSpec extends SparkTestBase {
  import spark.implicits._

  /** Reference BPE on the driver: same contract as bpeMerges — pair
    * counts weighted by word freq (overlapping adjacents counted, the
    * classic formulation), argmax with (freq desc, left asc, right asc)
    * tiebreak, greedy left-to-right non-overlapping merge.
    */
  private def refBpe(vocab: Map[String, Long], rounds: Int): Seq[(Long, String, String, String, Long)] = {
    def mergeGreedy(syms: Vector[String], a: String, b: String): Vector[String] = {
      val out = Vector.newBuilder[String]
      var i = 0
      while (i < syms.length) {
        if (i < syms.length - 1 && syms(i) == a && syms(i + 1) == b) {
          out += (a + b); i += 2
        } else { out += syms(i); i += 1 }
      }
      out.result()
    }
    var words = vocab.toSeq.map { case (w, f) => (w.map(_.toString).toVector, f) }
    val out = Seq.newBuilder[(Long, String, String, String, Long)]
    var r = 1
    var done = false
    while (r <= rounds && !done) {
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
        .withDefaultValue(0L)
      for ((syms, f) <- words; i <- 0 until syms.length - 1)
        counts((syms(i), syms(i + 1))) += f
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

  test("mergePairIn: greedy left-to-right, non-overlapping, exact-pair only") {
    val df = Seq("aaa", "abab", "ba", "xya", "a").toDF("w")
      .select(split(col("w"), "").as("syms"))
      .select(TextAnalysis.mergePairIn(col("syms"), "a", "a").as("m1"),
        TextAnalysis.mergePairIn(col("syms"), "a", "b").as("m2"))
    val rows = df.collect().map(r => (r.getSeq[String](0), r.getSeq[String](1)))
    // (a,a) in "aaa": merges positions 0-1, position 2 survives alone
    assert(rows(0) == ((Seq("aa", "a"), Seq("a", "a", "a"))))
    // (a,b) in "abab": both occurrences merge (no overlap between them)
    assert(rows(1) == ((Seq("a", "b", "a", "b"), Seq("ab", "ab"))))
    // "ba": pair (a,b) is order-sensitive — no merge
    assert(rows(2) == ((Seq("b", "a"), Seq("b", "a"))))
    // trailing symbol with no partner stays
    assert(rows(3) == ((Seq("x", "y", "a"), Seq("x", "y", "a"))))
    assert(rows(4) == ((Seq("a"), Seq("a"))))
  }

  test("bpeMerges on a hand-computed fixture") {
    // vocab: low(5) lower(2) newest(6) widest(3) — the worked example
    // from the original BPE paper family. Round 1: (e,s) freq 6+3=9
    // wins; round 2: (es,t) 9; round 3: (l,o) 7; round 4: (lo,w) 7.
    val vocab = Seq(("low", 5L), ("lower", 2L), ("newest", 6L), ("widest", 3L))
      .toDF("w", "freq")
    // both paths: default threshold = driver fast path, 0 = forced
    // distributed merge rounds
    for (thr <- Seq(200000L, 0L)) {
      val got = TextAnalysis.bpeMerges(vocab, rounds = 4, localThreshold = thr)
        .orderBy(col("round"))
        .collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3), r.getLong(4)))
        .toSeq
      assert(got == Seq(
        (1L, "e", "s", "es", 9L),
        (2L, "es", "t", "est", 9L),
        (3L, "l", "o", "lo", 7L),
        (4L, "lo", "w", "low", 7L)), s"thr=$thr")
    }
  }

  test("bpeMerges stops when no pairs remain") {
    val vocab = Seq(("ab", 3L), ("a", 9L)).toDF("w", "freq")
    val got = TextAnalysis.bpeMerges(vocab, rounds = 10).collect()
    // round 1 merges (a,b) -> every word is then a single symbol
    assert(got.length == 1 && got(0).getString(3) == "ab")
  }

  /** Reference encoder: per-char symbols, each merge greedy left-to-right
    * non-overlapping, in order — the driver-side twin of bpe_encode.
    */
  private def refEncode(toks: Seq[String], merges: Seq[(String, String)]): Seq[String] =
    toks.flatMap { w =>
      var syms = w.map(_.toString).toVector
      for ((a, b) <- merges) {
        val out = Vector.newBuilder[String]
        var i = 0
        while (i < syms.length) {
          if (i < syms.length - 1 && syms(i) == a && syms(i + 1) == b) {
            out += (a + b); i += 2
          } else { out += syms(i); i += 1 }
        }
        syms = out.result()
      }
      syms
    }

  test("bpe_encode applies ordered merges per word (fixture)") {
    val merges = Seq(("e", "s"), ("es", "t"), ("l", "o"), ("lo", "w"))
    val df = Seq(Seq("newest", "low", "lower", "best"), Seq.empty[String])
      .toDF("toks")
      .select(graft.functions.TextHashFunctions.bpe_encode(col("toks"), merges).as("sub"))
    val rows = df.collect().map(_.getSeq[String](0))
    assert(rows(0) == Seq("n", "e", "w", "est", "low", "low", "e", "r", "b", "est"))
    assert(rows(1).isEmpty)
    // merge ORDER matters: ("es","t") before ("e","s") can never fire
    val reversed = Seq(("es", "t"), ("e", "s"))
    val r2 = Seq(Seq("best")).toDF("toks")
      .select(graft.functions.TextHashFunctions.bpe_encode(col("toks"), reversed).as("sub"))
      .first().getSeq[String](0)
    assert(r2 == Seq("b", "es", "t"), "first merge sees no 'es' symbol yet")
  }

  test("repetitionStats: planted loop/block/clean docs get the exact census") {
    // doc 1: "spam ham" × 15 — every 2-gram repeats, one 10-token block
    //        duplicated twice (3 identical chunks)
    // doc 2: 30 distinct tokens — zero repetition anywhere
    // doc 3: 4 tokens — no complete chunk, tiny gram totals
    val d1 = Seq.fill(15)("spam ham").mkString(" ")
    val d2 = (1 to 30).map(i => s"w$i").mkString(" ")
    val d3 = "a b c d"
    val out = TextAnalysis.repetitionStats(
        Seq((1L, d1), (2L, d2), (3L, d3)).toDF("doc_id", "text"))
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5), r.getLong(6), r.getLong(7))).toMap
    // d1: 30 tokens, 29 2-grams, top ("spam ham") appears 15×;
    // 28 3-grams but only 2 distinct → 26 dup; 3 chunks, 1 distinct
    assert(out(1L) == ((30L, 15L, 29L, 26L, 28L, 2L, 3L)), out(1L))
    // d2: all grams distinct, top-2-gram count 1, zero dups
    assert(out(2L) == ((30L, 1L, 29L, 0L, 28L, 0L, 3L)), out(2L))
    // d3: 3 2-grams / 2 3-grams, no complete 10-token chunk
    assert(out(3L) == ((4L, 1L, 3L, 0L, 2L, 0L, 0L)), out(3L))
  }

  test("q_bootstrap_ci: bounds ordered and bracketing the point estimate") {
    val out = SparkEntry.queries("q_bootstrap_ci")(spark, sf).collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getDouble(2), r.getDouble(3)))
    assert(out.nonEmpty)
    out.foreach { case (src, mean, lo, hi) =>
      assert(lo <= hi, s"$src: lo $lo > hi $hi")
      assert(lo <= mean && mean <= hi,
        s"$src: point $mean outside [$lo, $hi] — a 95% bootstrap CI over " +
          "25+ docs per source must bracket the sample mean")
      assert(hi - lo > 0.0, s"$src: degenerate CI")
    }
  }

  test("contamination span: a planted verbatim quote gets its exact run length") {
    // bench doc 7 (doc_id%10==7) donates a 12-token quote into train
    // doc 1 at offset 3 → hit positions 3..10 (8 consecutive 5-grams),
    // span 12 tokens; train doc 2 shares nothing
    val quote = (1 to 12).map(i => s"q$i").mkString(" ")
    val docsDf = Seq(
      (7L, quote + " tail tokens here"),
      (1L, "pad one two " + quote + " trailing junk words"),
      (2L, (1 to 20).map(i => s"z$i").mkString(" "))
    ).toDF("doc_id", "text")
    // run the same flow as q_contamination_span via a temp dir? The
    // query reads from a dir — drive the operator shape inline instead
    val toks5 = docsDf.filter(col("doc_id") % 10 =!= 7)
      .select(col("doc_id"), Dedup.tokens(col("text")).as("tk"))
      .filter(size(col("tk")) >= 5)
    val posGrams = toks5.select(col("doc_id"),
      posexplode(transform(sequence(lit(0), size(col("tk")) - 5),
        i => concat_ws(" ", slice(col("tk"), i + 1, lit(5)))))
        .as(Seq("pos", "g")))
    val benchGrams = docsDf.filter(col("doc_id") % 10 === 7)
      .select(explode(Dedup.shingles(col("text"), 5)).as("g")).distinct()
    val wIsl = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("pos"))
    val out = posGrams.join(benchGrams, Seq("g"))
      .select(col("doc_id"), col("pos"))
      .withColumn("grp", col("pos") - row_number().over(wIsl))
      .groupBy(col("doc_id"), col("grp")).agg(count(lit(1)).as("run"))
      .groupBy(col("doc_id"))
      .agg(sum(col("run")).as("nh"), max(col("run")).as("mr"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out(1L) == ((8L, 8L)), s"quote spans 8 grams: ${out.get(1L)}")
    assert(!out.contains(2L), "clean doc must not surface")
  }

  test("compress_ratio: repetitive << prose << mash, deterministic, empty neutral") {
    val rep = ("spam ham " * 200).trim                  // structure-level redundancy
    val prose = "the quick brown fox jumps over the lazy dog while the " +
      "gardener plants tulips near the river bank and the weather turns " +
      "colder as autumn arrives with rain and wind across the valley " * 3
    val mash = (1 to 400).map(i => (i * 2654435761L).toHexString).mkString(" ")
    val df = Seq(("rep", rep), ("prose", prose), ("mash", mash), ("empty", ""))
      .toDF("kind", "text")
      .select(col("kind"),
        graft.functions.CompressStats.compress_ratio(col("text")).as("r"))
    val m = df.collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(m("rep") < m("prose") && m("prose") < m("mash"),
      s"monotonicity violated: $m")
    assert(m("rep") < 0.2, s"repetitive text must compress hard: ${m("rep")}")
    assert(m("empty") == 1.0, "empty text is neutral, not a crash")
    // deterministic across partitionings (fixed deflate level + impl)
    val q = SparkEntry.queries("q_compress_ratio")
    assert(q(spark, sf).collect().sameElements(q(spark, sf).collect()))
  }

  test("torn BPE save reads as absent → refit; legacy flat dir still loads without one") {
    import graft.operators.Artifacts
    val merges = Seq(("e", "s"), ("es", "t"))
    // torn versioned save: partial v=1, no pointer → refit exactly once
    val torn = tempDir("graft_bpe_torn")
      .toString + "/bpe"
    new java.io.File(s"$torn/v=1").mkdirs()
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$torn/v=1/part-00000.parquet"),
      Array[Byte](80, 65, 82, 49))
    var fits = 0
    val got = Artifacts.loadOrFitBpeMerges(spark, torn) { fits += 1; merges }
    assert(fits == 1 && got == merges)
    assert(Artifacts.latestVersion(spark, torn).exists(_.endsWith("v=2")))
    // legacy pre-versioning flat layout: loads as-is, no refit
    import spark.implicits._
    val flat = tempDir("graft_bpe_flat")
      .toString + "/bpe"
    merges.zipWithIndex.map { case ((l, r), i) => (i + 1, l, r) }
      .toDF("round", "left", "right").write.parquet(flat)
    var flatFits = 0
    val fromFlat = Artifacts.loadOrFitBpeMerges(spark, flat) {
      flatFits += 1; Seq(("x", "y"))
    }
    assert(flatFits == 0 && fromFlat == merges,
      "flat payload is a live artifact — versioning must not orphan it")
  }

  test("BPE merge table save/load: order preserved, served encoding identical") {
    val dir = tempDir("graft_bpe").toString
    val merges = Seq(("e", "s"), ("es", "t"), ("l", "o"), ("lo", "w"))
    graft.operators.Artifacts.saveBpeMerges(spark, merges, dir)
    val re = graft.operators.Artifacts.loadBpeMerges(spark, dir)
    assert(re == merges, "merge ORDER is the artifact — must survive parquet")
    val df = Seq(Seq("newest", "lowest")).toDF("toks")
    val a = df.select(graft.functions.TextHashFunctions.bpe_encode(col("toks"), merges))
      .first().getSeq[String](0)
    val b = df.select(graft.functions.TextHashFunctions.bpe_encode(col("toks"), re))
      .first().getSeq[String](0)
    assert(a == b)
  }

  test("q_bpe_tokenize equals the independent driver-side encoder on sf0.001") {
    val merges = graft.queries.TextQueries.bpeModel(spark, sf)
    assert(merges.length == 10)
    val got = SparkEntry.queries("q_bpe_tokenize")(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = Tables.documents(spark, sf)
      .select(col("doc_id"), graft.operators.Dedup.tokens(col("text")).as("toks"))
      .collect()
      .map(r => r.getLong(0) -> refEncode(r.getSeq[String](1), merges).length.toLong)
      .toMap
    assert(got == want, "distributed subword counts != reference encoder")
    // encoding must COMPRESS: subwords strictly fewer than chars for docs
    // where merges fired, never more than raw symbol count
    assert(got.values.sum > 0)
  }

  test("chunkDocs: window/stride arithmetic, ragged tail, short docs, empty docs") {
    val docs = Seq(
      (1L, (1 to 25).map(i => s"t$i").mkString(" ")), // 25 toks → chunks at 0,10,20
      (2L, "only three tokens"),                      // 3 toks → 1 ragged chunk
      (3L, "!!! ??? ..."))                            // 0 toks → no rows
      .toDF("doc_id", "text")
    val out = graft.operators.TextAnalysis.chunkDocs(docs, k = 10, stride = 10)
      .orderBy(col("doc_id"), col("chunk_idx")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
    assert(out.map(t => (t._1, t._2, t._4)).toSeq == Seq(
      (1L, 0L, 10L), (1L, 1L, 10L), (1L, 2L, 5L), (2L, 0L, 3L)))
    assert(out(2)._3 == (21 to 25).map(i => s"t$i").mkString(" "), "ragged tail content")
    // overlap: stride < k repeats the boundary tokens in adjacent chunks
    val ov = graft.operators.TextAnalysis.chunkDocs(docs.filter(col("doc_id") === 1),
      k = 10, stride = 5).orderBy(col("chunk_idx")).collect()
    assert(ov.length == 4, "1 + ceil((25-10)/5) = 4 windows")
    assert(ov(0).getString(2).split(" ").takeRight(5).toSeq ==
      ov(1).getString(2).split(" ").take(5).toSeq, "5-token overlap between windows")
  }

  test("q_bpe_vocab equals the independent driver-side BPE on sf0.001") {
    val vocabDf = Tables.documents(spark, sf)
      .select(explode(Dedup.tokens(col("text"))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))
    val vocab = vocabDf.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val want = refBpe(vocab, rounds = 10)
    val got = SparkEntry.queries("q_bpe_vocab")(spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3), r.getLong(4)))
      .toSeq
    assert(got == want, s"bpeMerges (fast path at this vocab size) $got != reference $want")
    assert(got.length == 10, "fixture corpus supports 10 merge rounds")
    // forced-distributed leg: the merge rounds must produce the same
    // table as the driver fast path and the independent reference
    val dist = TextAnalysis.bpeMerges(vocabDf, rounds = 10, localThreshold = 0L)
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3), r.getLong(4)))
      .toSeq
    assert(dist == want, s"distributed merges $dist != reference $want")
  }

  test("q_bm25_topk: BM25 ranking properties on the real fixture") {
    val rows = SparkEntry.queries("q_bm25_topk")(spark, sf).collect()
    assert(rows.nonEmpty && rows.length <= 100)
    // scores strictly positive (idf of ln(1+x), x>0) and sorted
    // (score desc, doc_id asc tiebreak) — the TakeOrdered contract
    val scores = rows.map(r => (r.getDouble(1), r.getLong(0)))
    assert(scores.forall(_._1 > 0.0))
    val resorted = scores.sortBy { case (s, id) => (-s, id) }.toSeq
    assert(scores.toSeq == resorted, "output not in (score desc, id) order")
    // every returned doc really contains >=1 query term; every absent
    // doc with a query term only missed by the top-100 cut
    val qTerms = Set("query", "stream", "vector", "hash")
    val returned = rows.map(_.getLong(0)).toSet
    val withTerm = graft.Tables.documents(spark, sf)
      .select(col("doc_id"), explode(Dedup.tokens(col("text"))).as("t"))
      .filter(col("t").isin(qTerms.toSeq: _*))
      .select(col("doc_id")).distinct().collect().map(_.getLong(0)).toSet
    assert(returned.subsetOf(withTerm), "scored doc without any query term")
    assert(rows.length == math.min(100, withTerm.size),
      "top-k cut must fill up to 100 from docs containing query terms")
  }

  test("bm25Score serving ≡ q_bm25_topk batch pipeline on the real fixture") {
    val serve = SparkEntry.queries("q_bm25_serve")(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val topk = SparkEntry.queries("q_bm25_topk")(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getDouble(1))
    assert(topk.nonEmpty)
    topk.foreach { case (id, s) =>
      assert(serve(id) == s,
        s"doc $id: serve ${serve(id)} != batch $s (fit/serve drift)")
    }
    // docs outside the top-k either score 0 or below the top-k floor
    val floor = topk.map(_._2).min
    val outside = serve.view.filterKeys(id => !topk.exists(_._1 == id))
    assert(outside.forall { case (_, s) => s <= floor },
      "a non-returned doc outscores the top-k floor")
  }

  test("q_bm25_multi: per-query ranked lists, each doc matches its query's terms") {
    val rows = SparkEntry.queries("q_bm25_multi")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val byQuery = rows.groupBy(_._1)
    assert(byQuery.keySet == Set(1L, 2L, 3L), s"queries: ${byQuery.keySet}")
    val queryTerms = Map(
      1L -> Set("query", "stream"), 2L -> Set("vector", "hash"),
      3L -> Set("merge", "sort", "join"))
    val docTerms = graft.Tables.documents(spark, sf)
      .select(col("doc_id"), explode(Dedup.tokens(col("text"))).as("t"))
      .collect().groupBy(_.getLong(0))
      .map { case (id, rs) => id -> rs.map(_.getString(1)).toSet }
    byQuery.foreach { case (qid, qr) =>
      val sorted = qr.sortBy(_._2)
      assert(sorted.map(_._2).toSeq == (1L to sorted.length).toSeq, s"q$qid ranks: ${sorted.toSeq}")
      assert(sorted.length <= 3)
      // scores non-increasing in rank; every hit shares a term with the query
      assert(sorted.sliding(2).forall {
        case Array(a, b) => a._4 >= b._4
        case _ => true
      }, s"q$qid scores not sorted")
      sorted.foreach { case (_, _, docId, _) =>
        assert(docTerms(docId).intersect(queryTerms(qid)).nonEmpty,
          s"q$qid returned doc $docId with no query term")
      }
    }
  }

  test("q_rank_fusion: rrf arithmetic consistent with the emitted ranks, top-20 sorted") {
    val rows = SparkEntry.queries("q_rank_fusion")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(rows.length == 20)
    rows.foreach { case (id, r1, r2, rrf) =>
      val want = math.rint((1.0 / (r1 + 60) + 1.0 / (r2 + 60)) * 1e6) / 1e6
      assert(rrf == want, s"doc $id: rrf $rrf != 1/(${r1}+60)+1/(${r2}+60) = $want")
      assert(r1 >= 1 && r2 >= 1)
    }
    assert(rows.sliding(2).forall {
      case Array(a, b) => a._4 > b._4 || (a._4 == b._4 && a._1 < b._1)
      case _ => true
    }, "not in (rrf desc, doc_id) order")
  }

  test("BM25 semantics: tf saturation and length normalization on a planted frame") {
    // same query terms as the declared query; planted docs isolate the
    // two BM25 behaviors that distinguish it from raw tf-idf
    val frame = Seq(
      (1L, "query stream filler filler"),            // 2 distinct terms
      (2L, "query query query query filler filler"), // saturating tf, 1 term
      (3L, "query stream" + " pad" * 40),            // same terms as 1, longer doc
      (4L, "filler words only here")                 // no query terms
    ).toDF("doc_id", "text")
    // run the same pipeline via a temp dir parquet (queries take a dir)
    val dir = tempDir("graft_bm25").toString
    frame.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = SparkEntry.queries("q_bm25_topk")(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(!out.contains(4L), "doc without query terms must not score")
    assert(out(1L) > out(3L), "longer doc with same tf must score lower (length norm)")
    // tf saturation: 4 repeats of one term < 1+1 of two distinct terms
    // (two idf contributions beat one saturated tf curve here)
    assert(out(1L) > out(2L), s"distinct-term doc must beat repeated-term doc: $out")
  }

  test("q_minhash_sigs byte contract: fixture text is ASCII (oracle reads codepoints as bytes)") {
    // The DuckDB twin of MinHashBandBuckets hashes unicode(c) per char;
    // fnv64 hashes UTF-8 BYTES. They coincide iff the corpus is ASCII —
    // this canary fails loudly if a fixture regen introduces non-ASCII
    // text, in which case the oracle needs a byte-expansion step (the
    // ENGINE is byte-correct for any input either way).
    val nonAscii = Tables.documents(spark, sf)
      .filter(col("text").rlike("[^\\x00-\\x7F]")).count()
    assert(nonAscii == 0,
      s"$nonAscii docs contain non-ASCII text — q_minhash_sigs oracle byte contract broken")
  }

  test("q_minhash_sigs matches MinHashBandBuckets nullSafeEval row-by-row") {
    // the query's banding column vs a direct driver-side eval of the
    // same expression — guards the query wiring (shingle n, bands,
    // rowsPerBand, seed) independently of the DuckDB oracle
    val rows = SparkEntry.queries("q_minhash_sigs")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).orderBy(col("doc_id")).limit(25)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    docs.foreach { case (id, text) =>
      val sh = graft.functions.TextHashFunctions.shingleEval(
        org.apache.spark.unsafe.types.UTF8String.fromString(text), 3)
      val buckets = graft.functions.TextHashFunctions
        .minhashBandEval(sh, 8, 4, 42L)
      (0 until buckets.numElements()).foreach { b =>
        assert(rows.get((id, b.toLong)).contains(buckets.getLong(b)),
          s"doc $id band $b: query=${rows.get((id, b.toLong))} direct=${buckets.getLong(b)}")
      }
    }
  }

  test("q_zipf_fit matches a driver-side log-log OLS on the same top-200") {
    val row = SparkEntry.queries("q_zipf_fit")(spark, sf)
      .collect().head
    // term counts via the engine tokenizer, fold + OLS re-done in Scala
    val tf = Tables.documents(spark, sf)
      .select(explode(graft.operators.Dedup.tokens(col("text"))).as("t"))
      .groupBy(col("t")).count().collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val top = tf.sortBy { case (t, c) => (-c, t) }.take(200)
    val n = top.length
    var sx = 0.0; var sy = 0.0; var sxy = 0.0; var sxx = 0.0
    top.zipWithIndex.foreach { case ((_, c), i) =>
      val x = math.log((i + 1).toDouble); val y = math.log(c.toDouble)
      sx += x; sy += y; sxy += x * y; sxx += x * x
    }
    val nd = n.toDouble
    val slope = (nd * sxy - sx * sy) / (nd * sxx - sx * sx)
    def d6(v: Double) = math.floor(v * 1e6 + 0.5) / 1e6
    assert(row.getLong(0) == n.toLong)
    assert(row.getDouble(1) == d6(slope))
    assert(row.getDouble(2) == d6((sy - slope * sx) / nd))
    // a natural-ish corpus has a negative rank-frequency slope
    assert(slope < 0.0)
  }
}
