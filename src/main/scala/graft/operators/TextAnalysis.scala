package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text analysis for training-data pipelines: token counting, quality
  * scoring, language ID, fingerprinting — all pure column expressions
  * (codegen'd, map-only; no shuffle, no UDF, no driver state), so they
  * pipeline into any scan at any scale.
  */
object TextAnalysis {

  /** Whitespace token count. */
  def tokenCountWs(text: Column): Column =
    size(filter(split(text, "\\s+"), t => length(t) > 0)).cast("long")

  /** BPE-ish token count: word pieces + standalone punctuation, the usual
    * pre-tokenizer regex shape (`\p{L}+|\p{N}+|[^\p{L}\p{N}\s]`).
    */
  def tokenCountBpeish(text: Column): Column =
    size(regexp_extract_all(text, lit("\\p{L}+|\\p{N}+|[^\\p{L}\\p{N}\\s]"), lit(0))).cast("long")

  /** Intra-document repetition census (the Gopher / RefinedWeb
    * repetition-rule family — Rae et al. 2021 §A1.1, Penedo et al. 2023;
    * public heuristics): per document the top-2-gram concentration, the
    * duplicate-3-gram mass, and the duplicate fixed-`chunk`-token block
    * count — the signals that catch boilerplate loops, keyword stuffing
    * and copy-paste padding, which per-corpus dedup never sees because
    * the repetition is INSIDE one doc.
    *
    * Returns INTEGER counts (`top2_n/g2_tot`, `dup3_n/g3_tot`,
    * `dupch_n/ch_tot`, plus `n_tokens`) so downstream gates compare
    * integers (`20·top2_n ≤ g2_tot` for a 5% rule) with zero float
    * seam; consumers derive rounded fractions for reporting only.
    * Degenerate docs (no 2-grams / 3-grams / complete chunks) carry 0
    * totals via the left joins.
    *
    * Scale shape: ONE tokenize pass behind an aggregate barrier (the
    * passageDedupReport HOF discipline), checkpointed once and read by the
    * three n-gram branches; each branch is explode → two-level count
    * (map-side combinable, keys bounded per doc by its own length); the
    * assembly joins are per-doc-keyed. Nothing global, nothing driver-
    * side.
    */
  def repetitionStats(docs: DataFrame, chunk: Int = 10,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(chunk >= 2, s"chunk $chunk")
    // ONE fused codegen'd pass over the token array (TextStats.rep_stats
    // — the TextStatsExpr fusion discipline applied to the census): the
    // former shape was three explode → two-level-count branches off a
    // checkpointed tokenize barrier (~3× token-count row blow-up, two
    // gram-string shuffles, a countDistinct partial per branch, plus
    // the assembly joins — measured r18: three 9-13 s-taskTime branch
    // jobs inside q_gopher_gate). The per-doc counts are the same exact
    // integers a groupBy produces (gram keys are space-joined tokens —
    // injective, tokens contain no whitespace), so every consumer's
    // values are bit-identical; what changes is the plan: map-only, no
    // shuffle, no joins. Per-row state is bounded by the doc's own
    // token count — the bound the explode form carried into its
    // shuffles anyway.
    val r = graft.functions.TextStats.rep_stats(
      Dedup.tokens(col(textCol)), chunk)
    docs.select(col(idCol), r.as("__r"))
      .select(col(idCol),
        col("__r.n_tokens").as("n_tokens"),
        col("__r.top2_n").as("top2_n"),
        col("__r.g2_tot").as("g2_tot"),
        col("__r.dup3_n").as("dup3_n"),
        col("__r.g3_tot").as("g3_tot"),
        col("__r.dupch_n").as("dupch_n"),
        col("__r.ch_tot").as("ch_tot"))
  }

  /** Stopword list shared by the quality score and the language scorer. */
  val enStopwords: Seq[String] = Seq(
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
    "that", "for", "on", "with", "as", "at", "by", "be", "this")

  /** Quality metrics: length, token counts, punctuation / stopword /
    * uppercase ratios, mean token length — the standard cheap filters for
    * corpus curation. One fused `TextStats` pass per document (the
    * composed HOF form re-tokenized per lambda — see TextStats scaladoc).
    */
  def qualityMetrics(text: Column): Seq[Column] = {
    val f = graft.functions.TextStats.text_stats(text)
    val nTok = f.getField("n_tokens").cast("double")
    val nChar = f.getField("n_chars").cast("double")
    val punct = f.getField("n_punct").cast("double")
    val upper = f.getField("n_upper").cast("double")
    val stops = f.getField("n_stop").cast("double")
    val sumLen = f.getField("sum_token_len").cast("double")
    Seq(
      nChar.cast("long").as("n_chars_m"),
      nTok.cast("long").as("n_tokens"),
      round(when(nChar === 0, 0.0).otherwise(punct / nChar), 6).as("punct_ratio"),
      round(when(nChar === 0, 0.0).otherwise(upper / nChar), 6).as("upper_ratio"),
      round(when(nTok === 0, 0.0).otherwise(stops / nTok), 6).as("stopword_ratio"),
      round(when(nTok === 0, 0.0).otherwise(sumLen / nTok), 6).as("mean_token_len"))
  }

  /** Scalar quality score ∈ [0,1]: penalize too-short/too-long docs, low
    * stopword density, punctuation soup. Deterministic, tune-free default.
    */
  def qualityScore(text: Column): Column = {
    val f = graft.functions.TextStats.text_stats(text)
    val nTok = f.getField("n_tokens").cast("double")
    val nChar = f.getField("n_chars").cast("double")
    val punct = f.getField("n_punct").cast("double")
    val stops = f.getField("n_stop").cast("double")
    val lenScore = least(nTok / 20.0, lit(1.0)) // ramps 0→1 until 20 tokens
    val stopScore = least(when(nTok === 0, 0.0).otherwise(stops / nTok) * 4.0, lit(1.0))
    val punctPenalty = greatest(lit(1.0) - when(nChar === 0, 0.0).otherwise(punct / nChar) * 5.0, lit(0.0))
    round(lenScore * 0.4 + stopScore * 0.3 + punctPenalty * 0.3, 6)
  }

  /** Tiny per-language function-word lists for the n-gram/stopword
    * language-ID heuristic.
    */
  val langStopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "is", "in", "that", "it", "for", "with"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "los", "del", "las", "por"),
    "de" -> Seq("der", "die", "und", "das", "nicht", "ist", "von", "mit", "den", "im"),
    "fr" -> Seq("le", "la", "et", "les", "des", "est", "dans", "que", "pour", "une"))

  /** Language ID: count function-word hits per language over the token
    * array; argmax with a deterministic tiebreak (language code asc);
    * "und" (undetermined) when nothing matches.
    */
  def langId(text: Column): Column = {
    val hits = graft.functions.TextStats.lang_hits(text) // one tokenization
    // struct array sorted asc on (-hits, lang) → element 1 is the winner
    // with the most hits, ties broken by language code ascending.
    val sorted = sort_array(array(
      langStopwords.keys.toSeq.sorted.zipWithIndex.map { case (lang, i) =>
        struct((-element_at(hits, i + 1)).as("neg_hits"), lit(lang).as("lang"))
      }: _*))
    val top = element_at(sorted, 1)
    when(top.getField("neg_hits") === 0, lit("und")).otherwise(top.getField("lang"))
  }

  /** The heuristic curation gate every quality-filtered intake and the
    * batch `q_corpus_clean` share: [[qualityScore]] at `minQuality`+ AND
    * [[langId]] `en`. One map-only predicate (two fused text passes), so
    * it runs ahead of any stateful or join stage.
    */
  def heuristicGate(text: Column, minQuality: Double): Column =
    qualityScore(text) >= minQuality && langId(text) === "en"

  /** Per-language hit counts (for inspection / oracle parity). */
  def langHits(text: Column): Seq[Column] = {
    val hits = graft.functions.TextStats.lang_hits(text)
    langStopwords.keys.toSeq.sorted.zipWithIndex.map { case (lang, i) =>
      element_at(hits, i + 1).as(s"hits_$lang")
    }
  }

  /** PII/noise scrubbing for corpus curation: emails → `<EMAIL>`,
    * URLs → `<URL>`, digit runs → `<NUM>`. Pure regexp_replace chain
    * (codegen'd, map-only); patterns are RE2-compatible so the DuckDB
    * oracle applies the identical chain.
    */
  def scrub(text: Column): Column = {
    val email = regexp_replace(text, "[\\w.+-]+@[\\w-]+\\.[\\w.]+", "<EMAIL>")
    val url = regexp_replace(email, "https?://\\S+", "<URL>")
    regexp_replace(url, "\\d+", "<NUM>")
  }

  /** Exact-content fingerprint: xxhash64 of the normalized token stream —
    * whitespace/punctuation-insensitive identity.
    */
  def fingerprint(text: Column): Column =
    xxhash64(concat_ws(" ", Dedup.tokens(text)))

  /** Winnowing-style rolling fingerprint set: hashes of all char n-grams of
    * the normalized text, keep every hash ≡ 0 (mod keepMod) — a
    * deterministic ~1/keepMod sample of positions, robust to local edits
    * (the classic document-fingerprinting construction). Fused single-pass
    * expression — the composed `transform(sequence(...), i ->
    * hash(norm.substr(i, n)))` form re-evaluated the whole normalization
    * inside the lambda, once per CHARACTER (see RollingFingerprints
    * scaladoc).
    */
  def rollingFingerprints(text: Column, n: Int = 8, keepMod: Int = 4): Column =
    graft.functions.TextHashFunctions.rolling_fingerprints(text, n, keepMod)

  /** Train a character-trigram LM over a corpus: (trigram → count) plus
    * the total trigram count. The table is bounded by the ALPHABET
    * (≤ 37³ trigrams over [a-z0-9 ]), not the corpus — collecting it is
    * the same bounded-by-construction pattern as IVF centroids; at
    * 100 TB, train on a sample (the LM is a statistic, not a per-row
    * artifact).
    */
  def trainTrigramLm(docs: DataFrame, textCol: String = "text"): (Map[String, Long], Long) = {
    val rows = docs
      .select(explode(graft.functions.TextHashFunctions.char_trigrams(col(textCol))).as("tri"))
      .groupBy(col("tri")).agg(count(lit(1)).as("c"))
      .collect()
    // the bound's OWNER is char_trigrams' normalization (lowercase +
    // [^a-z0-9 ]→space): 37 symbols ⇒ ≤ 37³ = 50 653 distinct trigrams.
    // If a tokenizer change ever widens the alphabet, fail loudly here
    // rather than silently unbounding a driver-side collect.
    require(rows.length <= 50653,
      s"trigram LM collected ${rows.length} rows > 37^3 — char_trigrams " +
        "normalization no longer bounds the alphabet")
    val m = rows.map(r => r.getString(0) -> r.getLong(1)).toMap
    (m, m.valuesIterator.sum)
  }

  /** Overlapping token-window chunking — the retrieval-ingestion shape
    * (embed-and-index wants fixed-size windows with overlap so no span
    * straddles a boundary unseen): window `k` tokens, stride
    * `stride = k − overlap`, last window ragged. Returns one row per
    * (doc, chunk) with the chunk text and its token count.
    *
    * Scale shape: tokenization runs ONCE per doc behind an aggregate
    * barrier (the chunk `transform` would otherwise re-run the tokenizer
    * per chunk index — the [[Dedup.passageDedupReport]] HOF lesson), then
    * chunking is a pure map-side explode: zero shuffles beyond the
    * 1-row-per-doc barrier aggregate. `sequence(0, nChunks−1)` is guarded
    * (greatest 0) against the `sequence(0, −1) == [0, −1]` trap.
    */
  def chunkDocs(docs: DataFrame, k: Int = 20, stride: Int = 10,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(stride >= 1 && stride <= k, s"stride $stride must be in [1, $k]")
    val toksDf = docs
      .select(col(idCol), Dedup.tokens(col(textCol)).as("toks"))
      .groupBy(col(idCol)).agg(first(col("toks")).as("toks")) // HOF barrier
      .filter(size(col("toks")) > 0)
    val n = size(col("toks"))
    val nChunks = lit(1) + greatest(lit(0),
      ceil((n - lit(k)).cast("double") / stride).cast("int"))
    toksDf
      .select(col(idCol), col("toks"), n.as("__n"),
        posexplode(transform(sequence(lit(0), nChunks - 1),
          i => array_join(slice(col("toks"), i * stride + 1, lit(k)), " "))))
      .select(col(idCol),
        col("pos").cast("long").as("chunk_idx"),
        col("col").as("chunk_text"),
        least(lit(k), col("__n") - col("pos") * stride).cast("long").as("n_tokens_chunk"))
  }

  /** One greedy left-to-right, non-overlapping merge of the adjacent
    * symbol pair (a, b) within a symbol array — the rewrite step of a BPE
    * merge round, as a pure Catalyst `aggregate` over the positions (no
    * UDF): the accumulator carries (rewritten-prefix, skip-next) and each
    * position either copies its symbol, emits the merged symbol and skips
    * the partner, or is skipped. `get` (0-based, null past the end) keeps
    * the lookahead ANSI-safe.
    */
  private[graft] def mergePairIn(syms: Column, a: String, b: String): Column =
    aggregate(
      sequence(lit(0), size(syms) - 1),
      struct(array().cast("array<string>").as("out"), lit(false).as("skip")),
      (acc, i) => {
        val cur = get(syms, i)
        val nxt = get(syms, i + 1)
        when(acc.getField("skip"),
          struct(acc.getField("out").as("out"), lit(false).as("skip")))
          .when(cur === lit(a) && nxt.isNotNull && nxt === lit(b),
            struct(concat(acc.getField("out"), array(lit(a + b))).as("out"),
              lit(true).as("skip")))
          .otherwise(
            struct(concat(acc.getField("out"), array(cur)).as("out"),
              lit(false).as("skip")))
      },
      acc => acc.getField("out"))

  /** Iterative BPE tokenizer training over a `(word, freq)` vocabulary:
    * `rounds` merge rounds, each picking the most frequent adjacent
    * symbol pair (weighted by word frequency, deterministic tiebreak
    * freq desc → left asc → right asc) and greedily merging it in every
    * word. Returns the merge table `(round, left, right, merged,
    * pair_freq)` — the artifact a BPE tokenizer IS.
    *
    * Scale shape (the canonical "tokenizer training at corpus scale"
    * loop): the corpus reduces to the bounded (word, freq) vocabulary
    * ONCE upstream; every round then costs one pair-explode + aggregate
    * over the VOCABULARY plus a 1-row top-pair action — O(vocab) per
    * round, corpus-touching work zero. Iteration hygiene mirrors
    * [[Dedup.connectedComponents]]: each round's rewritten vocabulary is
    * eagerly `localCheckpoint`ed, so the per-round HOF rewrite never
    * stacks in lineage (CollapseProject would otherwise inline `rounds`
    * nested rewrite lambdas into one expression) and no session-lifetime
    * caches leak.
    */
  def bpeMerges(vocab: DataFrame, rounds: Int,
      wordCol: String = "w", freqCol: String = "freq",
      localThreshold: Long = 200000L): DataFrame = {
    // SMALL-VOCAB FAST PATH, dispatched via the shared [[Guarded.iterate]]
    // (eager checkpoint BEFORE the guard count — its scaladoc owns the
    // ordering argument): below `localThreshold` words, `rounds` ×
    // (pair-explode + agg + top-1 action + checkpoint rewrite) is pure
    // job-scheduling floor — the driver loop computes the IDENTICAL
    // merge table from the guard-bounded collected vocabulary. The
    // symbols collected are the SAME Spark-split arrays, and the
    // top-pair tiebreak compares by unsigned UTF-8 bytes — exactly
    // Spark's string sort order — so the paths can't diverge on split
    // semantics or non-ASCII ordering (TextSpec asserts both paths
    // equal the independent reference BPE). Above the guard the
    // distributed rounds run unchanged: at real scale the vocabulary is
    // the bounded-but-large relation the loop exists for.
    Guarded.iterate(
      vocab.select(split(col(wordCol), "").as("syms"),
          col(freqCol).cast("long").as("freq"))
        .filter(size(col("syms")) > 0), localThreshold) { (syms, _) =>
      localBpe(syms, rounds)
    } { (syms, _) =>
      distributedBpe(syms, rounds)
    }
  }

  private def distributedBpe(syms0: DataFrame, rounds: Int): DataFrame = {
    val spark = syms0.sparkSession
    import spark.implicits._
    var syms = syms0
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, String, Long)]
    var r = 1
    var exhausted = false
    while (r <= rounds && !exhausted) {
      val top = syms.filter(size(col("syms")) >= 2)
        .select(col("freq"), explode(transform(
          sequence(lit(0), size(col("syms")) - 2),
          i => struct(get(col("syms"), i).as("l"), get(col("syms"), i + 1).as("r"))))
          .as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum(col("freq")).as("pf"))
        .orderBy(col("pf").desc, col("l"), col("r"))
        .limit(1).collect()
      if (top.isEmpty) exhausted = true
      else {
        val (a, b, pf) = (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        merges += ((r.toLong, a, b, a + b, pf))
        syms = syms
          .select(mergePairIn(col("syms"), a, b).as("syms"), col("freq"))
          .localCheckpoint(true)
        r += 1
      }
    }
    merges.toSeq.toDF("round", "left", "right", "merged", "pair_freq")
  }

  /** Driver-local BPE twin of the distributed merge rounds, fed the
    * SAME Spark-split symbol arrays (bounded ≤ `localThreshold` rows by
    * the caller's count guard). Pair counts weighted by word freq,
    * argmax tiebreak (freq desc, left asc, right asc) compared by
    * UNSIGNED UTF-8 BYTES — Spark's binary string order — and greedy
    * left-to-right non-overlapping merge ([[mergePairIn]] semantics).
    */
  private def localBpe(syms: DataFrame, rounds: Int): DataFrame = {
    val spark = syms.sparkSession
    import spark.implicits._
    // Spark string sort order = unsigned UTF-8 byte order; using Java's
    // UTF-16 compareTo here could flip a non-ASCII tiebreak vs the
    // distributed path
    def bytesLt(x: String, y: String): Boolean = {
      val a = x.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val b = y.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      var i = 0
      while (i < a.length && i < b.length) {
        val d = (a(i) & 0xff) - (b(i) & 0xff)
        if (d != 0) return d < 0
        i += 1
      }
      a.length < b.length
    }
    def mergeGreedy(w: Vector[String], a: String, b: String): Vector[String] = {
      val out = Vector.newBuilder[String]
      var i = 0
      while (i < w.length) {
        if (i < w.length - 1 && w(i) == a && w(i + 1) == b) {
          out += (a + b); i += 2
        } else { out += w(i); i += 1 }
      }
      out.result()
    }
    var words = syms.collect()
      .map(r => (r.getSeq[String](0).toVector, r.getLong(1)))
    val merges = Seq.newBuilder[(Long, String, String, String, Long)]
    var r = 1
    var exhausted = false
    while (r <= rounds && !exhausted) {
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
        .withDefaultValue(0L)
      for ((w, f) <- words; i <- 0 until w.length - 1)
        counts((w(i), w(i + 1))) += f
      if (counts.isEmpty) exhausted = true
      else {
        var best: ((String, String), Long) = null
        counts.foreach { c =>
          if (best == null || c._2 > best._2 ||
            (c._2 == best._2 && (bytesLt(c._1._1, best._1._1) ||
              (c._1._1 == best._1._1 && bytesLt(c._1._2, best._1._2)))))
            best = c
        }
        val ((a, b), pf) = best
        merges += ((r.toLong, a, b, a + b, pf))
        words = words.map { case (w, f) => (mergeGreedy(w, a, b), f) }
        r += 1
      }
    }
    merges.result().toDF("round", "left", "right", "merged", "pair_freq")
  }

  /** Mean trigram log-probability of `text` under a trained LM, as ONE
    * map-only column expression (the LM inlines as a map literal) — the
    * stateless form of `q_lm_score`'s join shape, usable anywhere a
    * column is: a parquet scan, a curation filter chain, or a STREAMING
    * select (no state store, no stream-side aggregation). Unseen
    * trigrams get an out-of-vocabulary half-count (c=0.5) so foreign /
    * mojibake text scores low rather than erroring; texts with no
    * trigrams yield null (gate them upstream).
    */
  def lmScore(lm: Map[String, Long], total: Long)(text: Column): Column = {
    val lut = typedlit(lm)
    val tris = graft.functions.TextHashFunctions.char_trigrams(text)
    when(size(tris) > 0,
      aggregate(tris, lit(0.0), (acc, t) =>
        acc + log(coalesce(element_at(lut, t).cast("double"), lit(0.5)) /
          lit(total.toDouble))) / size(tris).cast("double"))
  }

  /** DSIR LM pair (Xie et al. 2023): target-domain and full-corpus
    * trigram counts out of ONE alphabet-bounded aggregate (conditional
    * count — one shuffle, not two), plus the constants the
    * Laplace-smoothed log-ratio needs. Same bounded-collect contract as
    * [[trainTrigramLm]] (the require names the bound's owner). `vocab`
    * is the CORPUS trigram vocabulary size — the smoothing denominator
    * both sides of the ratio share.
    */
  final case class DsirModel(target: Map[String, Long], nTarget: Long,
    corpus: Map[String, Long], nCorpus: Long, vocab: Long)

  def trainDsirLms(docs: DataFrame, isTarget: Column,
      textCol: String = "text"): DsirModel = {
    val rows = docs
      .select(isTarget.as("__t"),
        explode(graft.functions.TextHashFunctions.char_trigrams(col(textCol))).as("tri"))
      .groupBy(col("tri"))
      .agg(count(lit(1)).as("c_s"), count(when(col("__t"), 1)).as("c_t"))
      .collect()
    require(rows.length <= 50653,
      s"trigram LM collected ${rows.length} rows > 37^3 — char_trigrams " +
        "normalization no longer bounds the alphabet")
    val corpus = rows.map(r => r.getString(0) -> r.getLong(1)).toMap
    val target = rows.collect {
      case r if r.getLong(2) > 0 => r.getString(0) -> r.getLong(2)
    }.toMap
    DsirModel(target, target.valuesIterator.sum,
      corpus, corpus.valuesIterator.sum, rows.length.toLong)
  }

  /** Per-doc DSIR importance log-ratio as ONE map-only column (both LMs
    * inline as map literals) — the stateless serving form of
    * `q_dsir_weights`' join shape, usable in a parquet curation chain or
    * a STREAMING select with no state store. Trigrams unseen at fit time
    * fall through to the Laplace floor (count 0 → smoothed 1/(n+V)) on
    * BOTH sides, so novel streamed text degrades gracefully instead of
    * erroring. Texts with no trigrams yield null (gate upstream).
    */
  def dsirWeight(m: DsirModel)(text: Column): Column = {
    val lutT = typedlit(m.target)
    val lutS = typedlit(m.corpus)
    val denT = lit((m.nTarget + m.vocab).toDouble)
    val denS = lit((m.nCorpus + m.vocab).toDouble)
    val tris = graft.functions.TextHashFunctions.char_trigrams(text)
    when(size(tris) > 0,
      aggregate(tris, lit(0.0), (acc, t) =>
        // (logT - logS) FIRST, then accumulate — same float addition
        // order as the join form's avg over per-row differences, so the
        // two forms agree bit-for-bit, not just to rounding
        acc + (
          log((coalesce(element_at(lutT, t).cast("double"), lit(0.0)) + lit(1.0)) / denT) -
            log((coalesce(element_at(lutS, t).cast("double"), lit(0.0)) + lit(1.0)) / denS))) /
        size(tris).cast("double"))
  }

  /** Decontamination with a BROADCAST-SIZE GUARD. The bench side reduces
    * to DISTINCT `n`-gram shingles and normally broadcasts into the
    * train-side probe join — but "bench is small" is a CORPUS property,
    * not a law: at a 100 TB train corpus with a large eval suite the
    * distinct 5-grams can exceed executor broadcast limits, and Spark's
    * failure mode is an OOM mid-join, not a clean error. So the gram
    * count is measured FIRST ([[benchGrams]]) and the join degrades to a
    * shuffled equi-join above `maxBroadcastGrams` — same rows, different
    * exchange. The choice is not silent: it is logged AND returned in
    * the plan record (the repo's no-silent-caps norm); both paths are
    * asserted value-equal in CurationSpec.
    *
    * Default threshold: [[BatchMaxBroadcastGrams]].
    */
  final case class DecontaminationPlan(
    contaminatedIds: DataFrame, nBenchGrams: Long, broadcastUsed: Boolean)

  private lazy val logger = org.slf4j.LoggerFactory.getLogger(getClass)

  /** The batch operators' default `maxBroadcastGrams`: 5M distinct
    * grams. The broadcast relation (an `UnsafeHashedRelation` on one
    * string key) measured 167.8 bytes per gram: `BroadcastExchangeExec`
    * `dataSize` 838,860,528 bytes for 5M distinct 31-char word 5-grams
    * (83.9 MB at 500k, 302 MB at 2M; JDK 17, local[4]). That is under
    * 1 GB at the bound and inside Spark's 8 GB broadcast cap, and past
    * any eval suite's gram count.
    */
  private[graft] val BatchMaxBroadcastGrams = 5000000L

  /** The streaming intakes' default `maxBroadcastGrams`. Under it they
    * ship the grams as a hash set of strings
    * ([[graft.functions.TextHashFunctions.broadcastSet]]: ~90 bytes per
    * 5-gram on the heap, measured) instead of the batch join's relation.
    * Every executor holds the set for the life of the stream, so the
    * bound is set on its own: 1.5M grams, ~135 MB per executor.
    */
  private[graft] val IntakeMaxBroadcastGrams = 1500000L

  /** The bench side every decontamination gate shares — the batch
    * operators below and the streaming intakes, which build it ONCE at
    * wiring so they pay the bench scan once instead of per micro-batch:
    * the distinct `n`-gram relation (eagerly localCheckpoint'ed, so the
    * count and every downstream join share one evaluation), its count,
    * and the measured broadcast choice — for the verify join, and for
    * the intakes' exact in-scan label ([[BenchGrams.intakeFlag]]).
    */
  private[graft] final case class BenchGrams(grams: DataFrame, nGrams: Long,
      n: Int, broadcastUsed: Boolean) {
    /** In-scan bloom pre-filter on `text`
      * ([[graft.functions.TextHashFunctions.BloomGramHit]]): no false
      * negatives, so a doc it rejects is PROVEN clean. The bloom is one
      * distributed aggregate over the grams, built only by the callers
      * that probe — the exact path never builds one.
      */
    def probe(text: Column, fpp: Double): Column =
      graft.functions.TextHashFunctions.bloom_gram_hit(text,
        grams.stat.bloomFilter("g", math.max(nGrams, 1L), fpp), n)

    /** The exact verify: ids of `docs` sharing an `n`-gram with the
      * bench — explode → guarded join → distinct ids.
      */
    def hitIds(docs: DataFrame, textCol: String = "text",
        idCol: String = "doc_id"): DataFrame =
      docs.select(col(idCol), explode(Dedup.shingles(col(textCol), n)).as("g"))
        .join(if (broadcastUsed) broadcast(grams) else grams, Seq("g"))
        .select(col(idCol)).distinct()

    /** The distinct grams, gathered once and shipped as a broadcast set —
      * on the broadcast path only, in place of the bloom's aggregate.
      */
    private lazy val gramSet = graft.functions.TextHashFunctions.broadcastSet(
      grams.select(col("g")).as(org.apache.spark.sql.Encoders.STRING))

    /** The per-row flag a streaming intake computes in-scan. Under the
      * broadcast bound it is EXACT ([[graft.functions.TextHashFunctions
      * .GramSetHit]] over [[gramSet]], `false` for null text): a flagged
      * doc IS contaminated. Above the bound it is the bloom [[probe]]: a
      * flagged doc MIGHT be.
      */
    def intakeFlag(text: Column, fpp: Double): Column =
      if (broadcastUsed) graft.functions.TextHashFunctions.gram_set_hit(text, gramSet, n)
      else probe(text, fpp)

    /** `docs` minus its contaminated docs, given `flag` = [[intakeFlag]]:
      * a filter when the flag is exact (no join, no exchange); above the
      * bound, [[hitIds]] of the flagged docs and one anti-join. Both
      * paths put `idCol` first, the anti-join's using-column order.
      */
    def dropFlagged(docs: DataFrame, flag: Column, idCol: String = "doc_id"): DataFrame =
      if (broadcastUsed)
        docs.filter(!flag)
          .select((idCol +: docs.columns.filterNot(_ == idCol)).toIndexedSeq.map(col): _*)
      else docs.join(hitIds(docs.filter(flag), idCol = idCol), Seq(idCol), "left_anti")
  }

  private[graft] def benchGrams(bench: DataFrame, n: Int = 5,
      maxBroadcastGrams: Long = BatchMaxBroadcastGrams, textCol: String = "text"): BenchGrams = {
    val grams = bench
      .select(explode(Dedup.shingles(col(textCol), n)).as("g"))
      .distinct().localCheckpoint(true)
    val nG = grams.count()
    val useBroadcast = nG <= maxBroadcastGrams
    logger.info(s"decontamination: $nG distinct bench $n-grams -> " +
      (if (useBroadcast) "broadcast" else
        s"SHUFFLE join (over maxBroadcastGrams=$maxBroadcastGrams)"))
    BenchGrams(grams, nG, n, useBroadcast)
  }

  def contaminationPlan(train: DataFrame, bench: DataFrame, n: Int = 5,
      maxBroadcastGrams: Long = BatchMaxBroadcastGrams,
      textCol: String = "text", idCol: String = "doc_id"): DecontaminationPlan = {
    val g = benchGrams(bench, n, maxBroadcastGrams, textCol)
    DecontaminationPlan(g.hitIds(train, textCol, idCol), g.nGrams, g.broadcastUsed)
  }

  /** Remove every train doc sharing an `n`-gram with the bench set —
    * [[contaminationPlan]]'s ids-only candidate relation applied as one
    * left-anti join.
    */
  def decontaminate(train: DataFrame, bench: DataFrame, n: Int = 5,
      maxBroadcastGrams: Long = BatchMaxBroadcastGrams,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    train.join(
      contaminationPlan(train, bench, n, maxBroadcastGrams, textCol, idCol)
        .contaminatedIds,
      Seq(idCol), "left_anti")

  /** [[decontaminate]] with a BLOOM pre-filter — bit-identical output,
    * 100 TB cost profile. The exact path explodes EVERY train doc into
    * its n-grams before the bench join; here a bloom of the bench grams
    * (built by one distributed aggregate, a few MB at the typical
    * ≤5M-gram bench scale) is tested INSIDE the scan via the codegen'd
    * [[graft.functions.TextHashFunctions.BloomGramHit]] predicate —
    * early-exit per doc, no gram array allocated — and only the docs
    * that MIGHT overlap (true contamination + fpp of the rest) pay the
    * explode→join, under the same guarded-broadcast rule as
    * [[contaminationPlan]]. Bloom filters have no false negatives and
    * gram construction is byte-identical to `shingle_set`, so candidates
    * ⊇ contaminated exactly, and the final anti-join result equals the
    * exact path's — same oracle SQL verifies both.
    */
  def decontaminateBloom(train: DataFrame, bench: DataFrame, n: Int = 5,
      fpp: Double = 0.01, maxBroadcastGrams: Long = BatchMaxBroadcastGrams,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val g = benchGrams(bench, n, maxBroadcastGrams, textCol)
    val candidates = train.filter(g.probe(col(textCol), fpp))
    train.join(g.hitIds(candidates, textCol, idCol), Seq(idCol), "left_anti")
  }

  /** Feature vector the trained quality gate fits AND serves on — one
    * fixed order, UNROUNDED doubles (rounding belongs to outputs, not to
    * model inputs): the text-stats ratios (one fused TextStats pass)
    * plus the per-language stopword hit ratios (one fused lang_hits
    * pass) — the same cheap lexical signals a fastText-style filter
    * hashes, linearized.
    */
  private[graft] def qualityLrFeatures(text: Column): Seq[Column] = {
    val f = graft.functions.TextStats.text_stats(text)
    val nTok = f.getField("n_tokens").cast("double")
    val nChar = f.getField("n_chars").cast("double")
    val statCols = Seq(
      when(nChar === 0, 0.0).otherwise(f.getField("n_punct").cast("double") / nChar),
      when(nChar === 0, 0.0).otherwise(f.getField("n_upper").cast("double") / nChar),
      when(nTok === 0, 0.0).otherwise(f.getField("n_stop").cast("double") / nTok),
      when(nTok === 0, 0.0).otherwise(f.getField("sum_token_len").cast("double") / nTok),
      log(nChar + lit(1.0)))
    val hits = graft.functions.TextStats.lang_hits(text)
    // the hit array's element order is owned by TextStats.langs —
    // iterate ITS indices, not a re-derived sort of the stopword keys
    val hitCols = graft.functions.TextStats.langs.indices.map(i =>
      when(nTok === 0, 0.0)
        .otherwise(element_at(hits, i + 1).cast("double") / nTok))
    statCols ++ hitCols
  }

  // A `def`, not a `val`: TextStats's own initializer reads
  // TextAnalysis.enStopwords, so an object-level val here that reads
  // TextStats.langs back creates a clinit cycle (NPE when TextStats
  // happens to initialize first — seen when IngestSpec runs standalone).
  private[graft] def qualityLrDim: Int = 5 + graft.functions.TextStats.langs.length

  /** Trained quality gate (the fastText-filter pattern every production
    * corpus pipeline runs: fit a CHEAP linear classifier to mimic an
    * expensive oracle — human labels, an LLM judge, or a reference
    * heuristic — then serve it as a per-row score). Model = logistic
    * regression over [[qualityLrFeatures]]; a few doubles of driver-side
    * state, exactly like the DSIR and IVF-PQ artifacts.
    *
    * Determinism: the fit input is pinned `repartition(1)
    * .sortWithinPartitions(id)` (the KMeans lesson — LBFGS aggregation
    * order depends on partition layout), so the model is a pure function
    * of (data, hyperparams) and survives the CPUS=3/8 sweep.
    * At 100 TB the model is a statistic, so the fit input is BOUNDED
    * before the single-partition pin: a deterministic content-hash
    * sample keyed on `idCol` caps what the one LBFGS task materializes
    * at `fitCap` rows (the [[Similarity.fitInput]] pattern — r4 flagged
    * the unbounded form for KMeans, r5's verdict flagged its recreation
    * here). Keying on the STABLE id (not the text) keeps the sampled
    * set fixed under doc edits; the hash filter is a pure function of
    * row content, so the CPUS=3/8 sweep still yields bit-identical
    * models. Serving is the map-only column below, which never shuffles.
    */
  final case class QualityLrModel(intercept: Double, weights: Array[Double])

  def fitQualityLr(docs: DataFrame, label: Column, idCol: String = "doc_id",
      textCol: String = "text", regParam: Double = 0.01,
      fitCap: Long = Similarity.fitSampleCap): QualityLrModel = {
    val names = (0 until qualityLrDim).map(i => s"__f$i")
    // null text ⇒ null features ⇒ VectorAssembler (handleInvalid=error)
    // throws mid-fit — gate here so a real corpus with absent texts
    // fits on its non-null rows instead of crashing
    val base = docs.filter(col(textCol).isNotNull && label.isNotNull)
    val n = base.count()
    val sampled =
      if (n <= fitCap) base
      else base.filter(
        pmod(xxhash64(col(idCol)), lit(1000000L)) <
          lit(math.max(1L, fitCap * 1000000L / n)))
    val feats = sampled
      .select(
        Seq(col(idCol), label.cast("double").as("__y")) ++
          qualityLrFeatures(col(textCol)).zip(names).map { case (c, n) => c.as(n) }: _*)
      .repartition(1).sortWithinPartitions(col(idCol))
    val assembled = new org.apache.spark.ml.feature.VectorAssembler()
      .setInputCols(names.toArray).setOutputCol("__x")
      .transform(feats)
    val m = new org.apache.spark.ml.classification.LogisticRegression()
      .setLabelCol("__y").setFeaturesCol("__x")
      .setMaxIter(50).setRegParam(regParam).setStandardization(true)
      .fit(assembled)
    QualityLrModel(m.intercept, m.coefficients.toArray)
  }

  /** Token-length-bucket reference distribution — the drift-detection
    * build artifact: ≤ `nBuckets`+1 doubles of driver state, fit once
    * over a trusted corpus snapshot and compared against every incoming
    * micro-batch by [[jsdVsRef]]. Bucket definition shared with the
    * oracled `q_source_drift` (floor(ws-tokens/8) capped at 20).
    */
  case class LenHistogram(probs: Array[Double]) {
    require(probs.nonEmpty && math.abs(probs.sum - 1.0) < 1e-9,
      "reference histogram must be a distribution")
  }

  def lenBucket(text: Column, nBuckets: Int = 20): Column =
    // coalesce BEFORE least: Spark's least skips nulls, so a null text
    // would otherwise land in the TOP bucket (reads as "very long doc"
    // drift) instead of bucket 0
    least(floor(coalesce(tokenCountWs(text), lit(0L)) / 8),
      lit(nBuckets.toLong)).cast("long")

  /** Doc counts per [[lenBucket]] — one bounded aggregate (≤ nBuckets+1
    * rows collected). The histogram every drift check reads: the
    * reference fit below, and each batch compared by [[jsdVsRef]].
    */
  def lenBucketCounts(docs: DataFrame, nBuckets: Int = 20,
      textCol: String = "text"): Map[Int, Long] =
    docs.select(lenBucket(col(textCol), nBuckets).as("bucket"))
      .groupBy(col("bucket")).agg(count(lit(1)).as("c"))
      .collect().map(r => r.getLong(0).toInt -> r.getLong(1)).toMap

  /** Fit the reference histogram from [[lenBucketCounts]],
    * Laplace-smoothed so JSD against it is finite for any batch (empty
    * reference cells get pseudo-count 1).
    */
  def fitLenHistogram(docs: DataFrame, nBuckets: Int = 20,
      textCol: String = "text"): LenHistogram = {
    val counts = lenBucketCounts(docs, nBuckets, textCol)
    val raw = Array.tabulate(nBuckets + 1)(i => counts.getOrElse(i, 0L) + 1.0)
    val z = raw.sum
    LenHistogram(raw.map(_ / z))
  }

  /** Jensen-Shannon divergence (nats) of a bucket-count histogram
    * against the reference — plain driver math over ≤ nBuckets+1 cells.
    * Same JSD form as the oracled q_source_drift (0-count batch cells
    * contribute only the reference half).
    */
  def jsdVsRef(counts: Map[Int, Long], ref: LenHistogram): Double = {
    val n = counts.values.sum.toDouble
    if (n == 0) return 0.0
    var jsd = 0.0
    var i = 0
    while (i < ref.probs.length) {
      val p = counts.getOrElse(i, 0L) / n
      val q = ref.probs(i)
      val m = (p + q) / 2
      if (p > 0) jsd += 0.5 * p * math.log(p / m)
      if (q > 0) jsd += 0.5 * q * math.log(q / m)
      i += 1
    }
    jsd
  }

  /** BM25 serving model — the fit/serve split for query-relevance
    * gating: corpus statistics (per-query-term idf, average doc length)
    * are a BUILD artifact computed once by [[fitBm25]] (|qTerms| doubles
    * + 2 scalars of driver state), and [[bm25Score]] serves them as a
    * stateless per-row column — streaming-safe, no join, no state store.
    */
  case class Bm25Model(k1: Double, b: Double, avgdl: Double,
      idf: Map[String, Double])

  /** One (doc,term) aggregate over the corpus → dl/df/N → the bounded
    * [[Bm25Model]]. Same statistics definitions as the oracled
    * `q_bm25_topk` pipeline (dl from token counts; N over ALL docs;
    * avgdl over docs with ≥1 token; Lucene idf = ln(1+(N-df+.5)/(df+.5))).
    */
  def fitBm25(docs: DataFrame, qTerms: Seq[String],
      k1: Double = 1.2, b: Double = 0.75,
      textCol: String = "text", idCol: String = "doc_id"): Bm25Model = {
    require(qTerms.nonEmpty && qTerms.size <= 64,
      s"qTerms must be 1..64 terms (driver state is O(|qTerms|)), got ${qTerms.size}")
    // ONE corpus tokenization: per-term tf and dl fold into a single
    // fixed-width groupBy(doc) aggregate (map-side combine → one row
    // per doc in the shuffle), then sum_dl/n_dl/df collapse in one
    // 1-row grand aggregate — two actions total (plus the N count,
    // which never tokenizes). The naive tf→{dl,df} derivation forked
    // into three tokenize+shuffle subtrees under column pruning.
    val terms = qTerms.distinct.sorted
    val perDoc = docs
      .select(col(idCol), explode(Dedup.tokens(col(textCol))).as("term"))
      .groupBy(col(idCol)).agg(
        count(lit(1)).as("dl"),
        terms.map(t => sum(when(col("term") === t, 1L).otherwise(0L)).as(s"tf_$t")): _*)
    val statCols =
      count(lit(1)).cast("double").as("n_dl") +:
        terms.map(t => count(when(col(s"tf_$t") > 0, 1)).cast("double").as(s"df_$t"))
    val row = perDoc.agg(sum(col("dl")).cast("double").as("sum_dl"), statCols: _*).head()
    val sumDl = Option(row.getAs[java.lang.Double]("sum_dl")).fold(0.0)(_.toDouble)
    val nDl = row.getAs[Double]("n_dl")
    val nDocs = docs.count().toDouble
    val idf = terms.map { t =>
      val df = row.getAs[Double](s"df_$t")
      t -> math.log(1.0 + (nDocs - df + 0.5) / (df + 0.5))
    }.toMap
    Bm25Model(k1, b, if (nDl == 0) 1.0 else sumDl / nDl, idf)
  }

  /** Stateless BM25 score column. ONE tokenization per doc: term counts
    * AND doc length accumulate in a single `aggregate` HOF pass over the
    * tokens array (referencing the tokens column twice — size() +
    * aggregate() — would re-tokenize after CollapseProject inlining, the
    * round-3 HOF trap), and the score falls out of the finish lambda with
    * the model constants inlined as literals. tf=0 terms contribute
    * exactly 0 (numerator zero, denominator positive).
    */
  def bm25Score(m: Bm25Model)(text: Column): Column = {
    val terms = m.idf.keys.toSeq.sorted
    val zero = struct(
      array(terms.map(_ => lit(0L)): _*).as("c"), lit(0L).as("n"))
    aggregate(
      Dedup.tokens(text),
      zero,
      (acc, t) => struct(
        array(terms.zipWithIndex.map { case (q, i) =>
          get(acc.getField("c"), lit(i)) +
            when(t === lit(q), lit(1L)).otherwise(lit(0L))
        }: _*).as("c"),
        (acc.getField("n") + lit(1L)).as("n")),
      acc => {
        val dl = acc.getField("n").cast("double")
        terms.zipWithIndex.map { case (q, i) =>
          val tf = get(acc.getField("c"), lit(i)).cast("double")
          lit(m.idf(q)) * (tf * (m.k1 + 1.0)) /
            (tf + lit(m.k1) * (lit(1.0 - m.b) + lit(m.b) * dl / m.avgdl))
        }.reduce(_ + _)
      })
  }

  /** Serve the trained gate as ONE map-only column: `sigmoid(b + w·x)`
    * over the same feature expressions the fit used. Stateless —
    * pipelines into a parquet curation chain or a STREAMING select with
    * no state store (the DSIR/LM serving shape).
    */
  def qualityLrScore(m: QualityLrModel)(text: Column): Column = {
    require(m.weights.length == qualityLrDim,
      s"expected $qualityLrDim weights, got ${m.weights.length}")
    val z = qualityLrFeatures(text).zip(m.weights)
      .map { case (c, w) => c * lit(w) }
      .foldLeft(lit(m.intercept): Column)(_ + _)
    lit(1.0) / (lit(1.0) + exp(-z))
  }
}
