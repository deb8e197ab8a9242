package graft.queries

import graft.Tables
import graft.operators.{Dedup, Split, TextAnalysis}
import graft.functions.TextHashFunctions
import graft.functions.ExactRatio.{ratio6, ratio6Sql, det6, det6Sql}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Text-analysis + dedup queries over the `documents` table.
  *
  * Tokenizer parity contract (Spark ⇄ DuckDB): normalize =
  * `lower(regexp_replace(text, "[^\p{L}\p{N}\s]", " "))`, tokens = split
  * on `\s+` minus empties. Spark uses Java regex, DuckDB RE2 — for these
  * character classes the semantics coincide (probed in tools/check.py).
  */
object TextQueries {

  private def docs(s: SparkSession, d: String) = Tables.documents(s, d)

  /** [[docs]] with a scale-adaptive parallelism floor (Layout.widen):
    * ONLY for the per-doc-CPU-dominated lines where the widen measurably
    * pays (r18: q_dsir_select 1.97×, q_bpe_tokenize 1.90×, q_rank_fusion
    * 1.72×, q_tfidf_top3 1.26×, q_repetition/q_gopher_gate ~1.2×). A
    * blanket widen in [[docs]] was measured NET NEGATIVE: the exchange +
    * an extra AQE stage + 32-task scheduling on every downstream
    * byte-tiny stage regressed the cheap text lines 1.3–2× (the r17
    * phash-checkpoint lesson, re-learned on scans).
    */
  private def docsWide(s: SparkSession, d: String) =
    graft.operators.Layout.widen(Tables.documents(s, d), col("doc_id"),
      Tables.scanSplits(s, d, "documents"))

  private val duckToks =
    """list_filter(string_split_regex(lower(regexp_replace(text, '[^\p{L}\p{N}\s]', ' ', 'g')), '\s+'), x -> len(x) > 0)"""

  /** Dedup.shingles' SQL twin over the token list `tk`: every run of
    * `n` consecutive tokens joined by spaces, the whole list as one
    * shingle when it is shorter than `n`, and none for no tokens. */
  private def shingleListSql(tk: String, n: Int): String =
    s"""CASE WHEN len($tk) = 0 THEN CAST([] AS VARCHAR[])
       |         WHEN len($tk) < $n THEN [array_to_string($tk, ' ')]
       |         ELSE [array_to_string($tk[i:i+${n - 1}], ' ') FOR i IN range(1, len($tk) - ${n - 2})]
       |    END""".stripMargin

  /** DuckDB mirrors of the quality-metric expressions, factored so the
    * q_text_quality oracle and every composition that gates on quality
    * (q_corpus_pipeline) share ONE definition. All assume a CTE exposing
    * `text`, `toks` (= [[duckToks]]) and `nchar` (= length(text) as
    * DOUBLE).
    */
  private val duckStopRatio =
    """(CASE WHEN len(toks) = 0 THEN 0.0 ELSE
      |    CAST(len(list_filter(toks, x -> list_contains(['the','a','an','and','or','of','to','in','is','it','that','for','on','with','as','at','by','be','this'], x))) AS DOUBLE) / len(toks) END)""".stripMargin
  private val duckPunctRatio =
    """(CASE WHEN nchar = 0 THEN 0.0 ELSE
      |    len(regexp_extract_all(text, '[[:punct:]]')) / nchar END)""".stripMargin
  private val duckQuality =
    s"""ROUND(
       |    LEAST(len(toks) / 20.0, 1.0) * 0.4 +
       |    LEAST($duckStopRatio * 4.0, 1.0) * 0.3 +
       |    GREATEST(1.0 - $duckPunctRatio * 5.0, 0.0) * 0.3,
       |  6)""".stripMargin

  /** BPE merge table memoized per scale dir — the tokenizer is a BUILD
    * artifact exactly like the IVF-PQ model: trained once (10 distributed
    * merge rounds over the bounded vocab), then applied as a stateless
    * map-only column (`TextHashFunctions.bpe_encode`) in every serving
    * query. Driver-side pure data (10 string pairs), deterministic given
    * the corpus.
    */
  private[graft] def bpeModel(s: SparkSession, d: String): Seq[(String, String)] =
    ContextMemo(s.sparkContext, s"bpe:$d") {
      val vocab = docs(s, d)
        .select(explode(Dedup.tokens(col("text"))).as("w"))
        .groupBy(col("w")).agg(count(lit(1)).as("freq"))
      TextAnalysis.bpeMerges(vocab, rounds = 10).orderBy(col("round"))
        .collect().map(r => (r.getString(1), r.getString(2))).toSeq
    }

  /** Trained quality-gate model memoized per scale dir (same build-
    * artifact pattern as [[bpeModel]]): LR fit once on the corpus, with
    * the reference heuristic gate (`qualityScore >= 0.77`, the corpus
    * median) as the oracle label it distills — the fastText-filter
    * recipe with a deterministic teacher. (The fixture's `lang` COLUMN
    * is random metadata uncorrelated with the text — q_lang_id derives
    * language from content instead — so the teacher must be a function
    * of the text.)
    */
  private[graft] def qlrModel(s: SparkSession, d: String): TextAnalysis.QualityLrModel =
    ContextMemo(s.sparkContext, s"qlr:$d")(
      TextAnalysis.fitQualityLr(docs(s, d),
        TextAnalysis.qualityScore(col("text")) >= 0.77))

  /** The fixed query-term set shared by q_bm25_topk, q_bm25_serve and
    * the fit — ONE definition so Spark and the oracle can never drift. */
  private[graft] val bm25Terms = Seq("query", "stream", "vector", "hash")

  /** DuckDB twin of the BM25 fit over `documents` (k1 = 1.2, b = 0.75):
    * tokens `tf(doc_id, term, tf)`, doc lengths `dl`, and the corpus
    * statistics `st(sum_dl, n_dl)` and `n(n_docs)`. Shared by the
    * q_bm25_* oracles.
    */
  private val bm25StatCtes =
    s"""WITH t AS (SELECT doc_id, $duckToks AS tk FROM documents),
       |tok AS (SELECT doc_id, UNNEST(tk) AS term FROM t),
       |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
       |dl AS (SELECT doc_id, SUM(tf) AS dl FROM tf GROUP BY 1),
       |st AS (SELECT CAST(SUM(dl) AS DOUBLE) AS sum_dl,
       |              CAST(COUNT(*) AS DOUBLE) AS n_dl FROM dl),
       |n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs FROM documents)""".stripMargin

  /** The per-doc BM25 sum over the matched (term, tf) rows; the
    * continuation line keeps the oracles' 8-space indent. */
  private val bm25Sum =
    """SUM(ln(1 + (n_docs - df + 0.5) / (df + 0.5)) *
      |        (tf * 2.2) / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / (sum_dl / n_dl))))""".stripMargin

  /** [[bm25StatCtes]] + the [[bm25Terms]] query: `sc(doc_id, score)`,
    * unrounded, for docs matching at least one term. */
  private val bm25Ctes =
    s"""$bm25StatCtes,
       |q AS (SELECT * FROM (VALUES ('query'), ('stream'), ('vector'), ('hash')) AS q(term)),
       |qtf AS (SELECT tf.* FROM tf JOIN q USING (term)),
       |dfq AS (SELECT term, COUNT(*) AS df FROM qtf GROUP BY 1),
       |sc AS (
       |  SELECT doc_id,
       |    $bm25Sum
       |      AS score
       |  FROM qtf JOIN dfq USING (term) JOIN dl USING (doc_id), st, n
       |  GROUP BY doc_id
       |)""".stripMargin

  /** [[bm25Ctes]] with `b`-prefixed names over the caller's `t(doc_id,
    * toks)` CTE, ending at `bsc(doc_id, score)` — the relevance half of
    * the oracles that score BM25 beside other columns of `t`.
    */
  private val bm25ServeCtes =
    s"""btok AS (
       |  SELECT doc_id, UNNEST(toks) AS term FROM t
       |), btf AS (SELECT doc_id, term, COUNT(*) AS tf FROM btok GROUP BY 1, 2),
       |bdl AS (SELECT doc_id, SUM(tf) AS dl FROM btf GROUP BY 1),
       |bst AS (SELECT CAST(SUM(dl) AS DOUBLE) AS sum_dl,
       |               CAST(COUNT(*) AS DOUBLE) AS n_dl FROM bdl),
       |bn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs FROM documents),
       |bq AS (SELECT * FROM (VALUES ('query'), ('stream'), ('vector'), ('hash')) AS q(term)),
       |bqtf AS (SELECT btf.* FROM btf JOIN bq USING (term)),
       |bdfq AS (SELECT term, COUNT(*) AS df FROM bqtf GROUP BY 1),
       |bsc AS (
       |  SELECT doc_id,
       |    $bm25Sum
       |      AS score
       |  FROM bqtf JOIN bdfq USING (term) JOIN bdl USING (doc_id), bst, bn
       |  GROUP BY doc_id
       |)""".stripMargin

  /** q_corpus_pipeline's survivor set, shared by v1/v2/v3: `t` (all
    * docs with `toks` and `nchar`), `dd` (non-bench docs with rounded
    * quality `q` >= 0.75, one per token fingerprint) and
    * `contaminated(doc_id)` (the `dd` docs sharing a 5-gram with the
    * bench slice).
    */
  private val corpusSurvivorCtes =
    s"""WITH t AS (
       |  SELECT doc_id, source, n_chars, text, $duckToks AS toks,
       |    CAST(length(text) AS DOUBLE) AS nchar
       |  FROM documents
       |), train AS (
       |  SELECT doc_id, source, n_chars, toks, $duckQuality AS q
       |  FROM t WHERE doc_id % 10 != 7 AND $duckQuality >= 0.75
       |), keep AS (
       |  SELECT MIN(doc_id) AS doc_id FROM (
       |    SELECT doc_id, md5(array_to_string(toks, ' ')) AS fp FROM train
       |  ) GROUP BY fp
       |), dd AS (
       |  SELECT train.* FROM train JOIN keep USING (doc_id)
       |), grams AS (
       |  SELECT doc_id, UNNEST(
       |    ${shingleListSql("toks", 5)}) AS g
       |  FROM dd
       |), bench_g AS (
       |  SELECT DISTINCT UNNEST(
       |    ${shingleListSql("toks", 5)}) AS g
       |  FROM t WHERE doc_id % 10 = 7
       |), contaminated AS (
       |  SELECT DISTINCT doc_id FROM grams JOIN bench_g USING (g)
       |)""".stripMargin

  /** q_decontaminate's oracle; the bloom variant is exact, so
    * q_decontaminate_bloom is checked against the same SQL. */
  private val decontaminateSql =
    s"""WITH t AS (SELECT doc_id, source, n_chars, $duckToks AS tk FROM documents),
       |sh AS (
       |  SELECT doc_id, UNNEST(list_distinct(
       |    ${shingleListSql("tk", 5)})) AS g
       |  FROM t
       |),
       |contaminated AS (
       |  SELECT DISTINCT a.doc_id
       |  FROM sh a JOIN (SELECT DISTINCT g FROM sh WHERE doc_id % 10 = 7) b
       |    ON a.g = b.g
       |  WHERE a.doc_id % 10 != 7
       |)
       |SELECT source, COUNT(*) AS n_kept,
       |  CAST(SUM(n_chars) AS BIGINT) AS n_chars_kept
       |FROM t
       |WHERE doc_id % 10 != 7 AND doc_id NOT IN (SELECT doc_id FROM contaminated)
       |GROUP BY source ORDER BY source""".stripMargin

  /** The capped in-bucket pairing mirror (cappedKeyedPairs with cap
    * 256): all pairs among the first 256 ids of a (band, bucket), and
    * each later id star-attached to the bucket's min id. Reads
    * `buckets(id, band, bucket)`; exposes `cand(id_a, id_b)`.
    */
  private[queries] def cappedPairCtes(id: String, buckets: String): String =
    s"""numbered AS (
       |  SELECT $id AS id, band, bucket,
       |    ROW_NUMBER() OVER (PARTITION BY band, bucket ORDER BY $id) AS rn,
       |    MIN($id) OVER (PARTITION BY band, bucket) AS mn
       |  FROM $buckets
       |),
       |expanded AS (
       |  SELECT a.id AS id_a, b.id AS id_b
       |  FROM numbered a JOIN numbered b
       |    ON a.band = b.band AND a.bucket = b.bucket AND a.id < b.id
       |   AND a.rn <= 256 AND b.rn <= 256
       |),
       |overflow AS (
       |  SELECT mn AS id_a, id AS id_b FROM numbered WHERE rn > 256
       |),
       |cand AS (
       |  SELECT DISTINCT id_a, id_b
       |  FROM (SELECT * FROM expanded UNION ALL SELECT * FROM overflow)
       |)""".stripMargin

  /** Temperature mix targets (α = 0.5 over per-source doc counts,
    * 200-doc budget): `tg(source, target)`. */
  private val mixTargetCtes =
    s"""WITH g AS (
       |  SELECT source, POWER(CAST(COUNT(*) AS DOUBLE), 0.5) AS w
       |  FROM documents GROUP BY source
       |), t AS (SELECT SUM(w) AS tw FROM g),
       |tg AS (
       |  SELECT source,
       |    CAST(FLOOR(CAST(ROUND(w / tw, 6) AS DECIMAL(18,6)) * 200)
       |      AS BIGINT) AS target
       |  FROM g, t
       |)""".stripMargin

  /** BM25 corpus statistics memoized per scale dir (same build-artifact
    * pattern as [[bpeModel]]). A deployment that must serve the fitting
    * run's statistics across restarts, rather than refit against a
    * drifted corpus, persists them with
    * [[graft.operators.Artifacts.loadOrFitBm25]]; reloaded stats are
    * IEEE-exact (spec-asserted in CurationSpec).
    */
  private[graft] def bm25Model(s: SparkSession, d: String): TextAnalysis.Bm25Model =
    ContextMemo(s.sparkContext, s"bm25:$d")(
      TextAnalysis.fitBm25(docs(s, d), bm25Terms))

  /** Shared DSIR weights relation — `(doc_id, source, n_trigrams, w)`
    * with `w` the 6dp-rounded Laplace-smoothed target/corpus log-ratio.
    * Both q_dsir_weights and q_dsir_select consume THIS (and the oracle
    * side shares [[dsirCtes]]), so smoothing/target changes happen in
    * exactly one place per engine. Scale shape: both LMs out of ONE
    * alphabet-bounded conditional-count aggregate (the q_tfidf_top3
    * fork lesson), LM + constants broadcast, corpus streams through one
    * scoring pass — no self-joins, no driver loops.
    */
  private def dsirWeightsDf(s: SparkSession, d: String): DataFrame = {
    // docsWide: tris is evaluated twice (LM build + scoring pass) and
    // the trigram explode was a 767 ms single-task stage (r18 profile)
    val tris = docsWide(s, d).select(col("doc_id"), col("source"),
      explode(TextHashFunctions.char_trigrams(col("text"))).as("tri"))
    val lm = tris.groupBy(col("tri")).agg(
      count(lit(1)).as("c_s"),
      count(when(col("source") === "src0", 1)).as("c_t"))
    val consts = lm.agg(count(lit(1)).as("v"),
      sum(col("c_s")).as("n_s"), sum(col("c_t")).as("n_t"))
    tris.join(broadcast(lm), Seq("tri"))
      .crossJoin(broadcast(consts))
      .groupBy(col("doc_id"))
      .agg(max(col("source")).as("source"), count(lit(1)).as("n_trigrams"),
        round(avg(
          log((col("c_t") + lit(1.0)) / (col("n_t") + col("v")).cast("double")) -
            log((col("c_s") + lit(1.0)) / (col("n_s") + col("v")).cast("double"))), 6)
          .as("w"))
  }

  /** DuckDB twin of [[dsirWeightsDf]]: the shared CTE chain ending at
    * `wts(doc_id, source, n_trigrams, w)`. Append `SELECT ...` or
    * `, more AS (...) SELECT ...` to build a full oracle.
    */
  private val dsirCtes =
    """WITH norm AS (
      |  SELECT doc_id, source,
      |    regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g') AS s
      |  FROM documents
      |), tris AS (
      |  SELECT doc_id, source,
      |    unnest(list_transform(range(1, len(s) - 1), i -> substr(s, i, 3))) AS tri
      |  FROM norm WHERE len(s) >= 3
      |), lm AS (
      |  SELECT tri, COUNT(*) AS c_s,
      |    COUNT(CASE WHEN source = 'src0' THEN 1 END) AS c_t
      |  FROM tris GROUP BY tri
      |), consts AS (
      |  SELECT COUNT(*) AS v, SUM(c_s) AS n_s, SUM(c_t) AS n_t FROM lm
      |), wts AS (
      |  SELECT doc_id, MAX(source) AS source, COUNT(*) AS n_trigrams,
      |    ROUND(AVG(ln((c_t + 1.0) / CAST(n_t + v AS DOUBLE)) -
      |              ln((c_s + 1.0) / CAST(n_s + v AS DOUBLE))), 6) AS w
      |  FROM tris JOIN lm USING (tri), consts
      |  GROUP BY doc_id
      |)""".stripMargin

  /** mod-2^64 wrapping multiply `a * b` in DuckDB HUGEINT for the
    * hash-twin oracles: `a` split into 32-bit halves so no
    * intermediate exceeds ~2^97 (signed HUGEINT caps at 2^127 — a
    * direct product of two 64-bit residues would overflow). Operands
    * are unsigned residues in [0, 2^64); `b` a literal constant.
    */
  private[queries] def mm64(a: String, b: String): String =
    s"(((($a) % 4294967296) * $b + (((($a) // 4294967296) * $b) % 4294967296)" +
      s" * 4294967296) % 18446744073709551616)"

  /** Shared CTE prefix of the q_cross_doc_spans / q_source_span_overlap
    * oracles (Dedup.crossDocSpans' twin, factored so the doc-pair and
    * source-pair views can never drift): positional 5-grams, rare-gram
    * (dfreq ≤ 20) pair blocking, diagonal islands, per-pair HAVING
    * max_run ≥ 3. Exposes `xds_pairs(a, b, max_run, n_matched)`.
    */
  private def crossDocSpanCtes: String =
    s"""xds_t AS (SELECT doc_id, $duckToks AS tk FROM documents),
       |xds_t5 AS (SELECT doc_id, tk FROM xds_t WHERE len(tk) >= 5),
       |xds_pg AS (
       |  SELECT doc_id,
       |    UNNEST([{'pos': i - 1, 'g': array_to_string(tk[i:i+4], ' ')}
       |      FOR i IN range(1, len(tk) - 3)]) AS s
       |  FROM xds_t5),
       |xds_pp AS (SELECT doc_id, s.pos AS pos, s.g AS g FROM xds_pg),
       |xds_rare AS (
       |  SELECT g FROM (SELECT g, COUNT(*) AS c FROM xds_pp GROUP BY g)
       |  WHERE c <= 20),
       |xds_occ AS (
       |  SELECT xds_pp.doc_id, xds_pp.pos, xds_pp.g
       |  FROM xds_pp JOIN xds_rare USING (g)),
       |xds_pr AS (
       |  SELECT x.doc_id AS a, y.doc_id AS b, x.pos AS pa, y.pos AS pb
       |  FROM xds_occ x JOIN xds_occ y
       |    ON x.g = y.g AND x.doc_id < y.doc_id),
       |xds_isl AS (
       |  SELECT a, b, pa - pb AS diag, pa,
       |    pa - ROW_NUMBER() OVER (PARTITION BY a, b, pa - pb
       |      ORDER BY pa) AS grp
       |  FROM xds_pr),
       |xds_runs AS (
       |  SELECT a, b, CAST(COUNT(*) AS BIGINT) AS run
       |  FROM xds_isl GROUP BY a, b, diag, grp),
       |xds_pairs AS MATERIALIZED (
       |  SELECT a, b, MAX(run) AS max_run,
       |    CAST(SUM(run) AS BIGINT) AS n_matched
       |  FROM xds_runs GROUP BY a, b HAVING MAX(run) >= 3)""".stripMargin

  /** The distinct-3-shingle CTE (Dedup.shingles' SQL twin, with the
    * same <3-token fallback) — shared by [[minhashCte]] and the exact
    * set-similarity-join oracles. Exposes `mh_shingles(doc_id, shs)`.
    */
  private def shinglesCte: String =
    s"""mh_t AS (SELECT doc_id, $duckToks AS tk FROM documents),
       |mh_shingles AS (
       |  SELECT doc_id, list_distinct(
       |    ${shingleListSql("tk", 3)}) AS shs
       |  FROM mh_t
       |)""".stripMargin

  /** The MinHash banding twin, shared by every oracle that consumes the
    * REAL banding (q_minhash_sigs, q_minhash_bucket_health,
    * q_dedup_minhash, q_dedup_incremental_near): the permutation-hash
    * arithmetic of MinHashBandBuckets unrolled over `documents` —
    * per shingle fnv64 over its bytes (ASCII fixture ⇒ codepoints ARE
    * the bytes — asserted in TextSpec), per hash function j the
    * splitmix avalanche of base ^ (seed + j·golden), minima taken over
    * SIGNED longs (the Spark comparison), then the per-band FNV fold.
    * All values carried as unsigned HUGEINT residues; logical
    * shift-right = floor division (residues are nonnegative); the
    * staged CTEs (h0..h3) keep each splitmix step referencing a COLUMN
    * so the split-multiply's textual duplication never compounds.
    * Exposes `mh_shingles(doc_id, shs)` (the distinct shingle list) and
    * `mh_buckets(doc_id, band BIGINT, bucket BIGINT signed)`.
    */
  private def minhashCte: String =
    s"""$shinglesCte,
       |mh_sh AS (SELECT doc_id, UNNEST(shs) AS g FROM mh_shingles),
       |mh_base AS (
       |  SELECT doc_id, list_reduce(
       |    list_prepend(CAST(14695981039346656037 AS HUGEINT),
       |      list_transform(string_split(g, ''), c -> CAST(unicode(c) AS HUGEINT))),
       |    (h, b) -> ${mm64("xor(h, b)", "1099511628211")}) AS base
       |  FROM mh_sh
       |),
       |mh_h0 AS (
       |  SELECT doc_id, j, xor(base,
       |    (42 + CAST(j AS HUGEINT) * 11400714819323198485) % 18446744073709551616) AS v
       |  FROM mh_base, (SELECT UNNEST(range(32)) AS j)
       |),
       |mh_h1 AS (SELECT doc_id, j, ${mm64("xor(v, v // 1073741824)", "13787848793156543929")} AS z1 FROM mh_h0),
       |mh_h2 AS (SELECT doc_id, j, ${mm64("xor(z1, z1 // 134217728)", "10723151780598845931")} AS z2 FROM mh_h1),
       |mh_h3 AS (SELECT doc_id, j, xor(z2, z2 // 2147483648) AS z FROM mh_h2),
       |mh_mins AS (
       |  SELECT doc_id, j,
       |    MIN(CAST(CASE WHEN z >= 9223372036854775808
       |      THEN z - 18446744073709551616 ELSE z END AS BIGINT)) AS ms
       |  FROM mh_h3 GROUP BY doc_id, j
       |),
       |mh_bands AS (
       |  SELECT doc_id, j // 4 AS band,
       |    list(CASE WHEN ms < 0 THEN CAST(ms AS HUGEINT) + 18446744073709551616
       |      ELSE CAST(ms AS HUGEINT) END ORDER BY j) AS mu
       |  FROM mh_mins GROUP BY doc_id, j // 4
       |),
       |mh_folded AS (
       |  SELECT doc_id, band, list_reduce(
       |    list_prepend(CAST(14695981039346656037 AS HUGEINT), mu),
       |    (h, m) -> ${mm64("xor(h, m)", "1099511628211")}) AS bu
       |  FROM mh_bands
       |),
       |mh_buckets AS (
       |  SELECT doc_id, CAST(band AS BIGINT) AS band,
       |    CAST(CASE WHEN bu >= 9223372036854775808
       |      THEN bu - 18446744073709551616 ELSE bu END AS BIGINT) AS bucket
       |  FROM mh_folded
       |)""".stripMargin

  /** q_fingerprint_xx's twin (DE-EXEMPTED r12): Spark's `xxhash64` IS
    * XXH64 (public spec, Collet) of the UTF-8 bytes with seed 42, so
    * the whole streaming hash unrolls into mod-2^64 HUGEINT arithmetic —
    * 32-byte stripes as ONE list_reduce with a 4-accumulator STRUCT
    * state (elements are structs too: DuckDB's reduce needs one type,
    * so each element carries its stripe index in `a1`), then the merge,
    * ≤3 8-byte tail words, one optional 4-byte word and ≤3 tail bytes
    * UNROLLED as guarded staged CTE columns (nesting them would
    * re-duplicate the full prior text per level — the minhashCte
    * lesson), then the final avalanche. Byte values come from the
    * normalized (tokens-joined) string via unicode(c) — the ASCII
    * fixture contract asserted in TextSpec. The same byte list feeds
    * the rolling-fingerprint twin: FNV-1a over every 8-char window,
    * kept iff the unsigned residue ≡ 0 (mod 4) (Java floorMod of the
    * signed value equals the unsigned residue mod 4 since 2^64 ≡ 0),
    * COUNT(DISTINCT) per doc.
    */
  private def xxhashOracle: String = {
    val M = "18446744073709551616"
    val p1 = "11400714785074694791"; val p2 = "14029467366897019727"
    val p3 = "1609587929392839161"; val p4 = "9650029242287828579"
    val mask = BigInt(2).pow(64)
    def rotl(x: String, r: Int): String = {
      val lo = BigInt(1) << (64 - r); val hi = BigInt(1) << r
      s"((($x) % $lo) * $hi + ($x) // $lo)"
    }
    def lane(base: String, nBytes: Int): String =
      (0 until nBytes).map(j =>
        s"by[CAST(($base) + ${j + 1} AS BIGINT)] * ${BigInt(1) << (8 * j)}")
        .mkString(" + ")
    def rnd(acc: String, ln: String): String =
      mm64(rotl(s"(($acc) + ${mm64(ln, p2)}) % $M", 31), p1)
    def mergeRound(h: String, acc: String): String =
      s"(${mm64(s"xor(($h), (${mm64(rotl(mm64(acc, p2), 31), p1)}))", p1)}" +
        s" + $p4) % $M"
    def tail8(h: String, w: Int): String = {
      val r = mm64(rotl(mm64(s"(${lane(s"ns*32 + ${8 * w}", 8)})", p2), 31), p1)
      s"CASE WHEN n - ns*32 >= ${8 * (w + 1)} THEN " +
        s"(${mm64(rotl(s"xor(($h), ($r))", 27), p1)} + $p4) % $M ELSE ($h) END"
    }
    def tail4(h: String): String = {
      val ml = mm64(s"(${lane("ns*32 + t8*8", 4)})", p1)
      s"CASE WHEN n - ns*32 - t8*8 >= 4 THEN " +
        s"(${mm64(rotl(s"xor(($h), ($ml))", 23), p2)} + $p3) % $M ELSE ($h) END"
    }
    def tail1(h: String, b: Int): String = {
      val byte = s"by[CAST(ns*32 + t8*8 + t4*4 + ${b + 1} AS BIGINT)]"
      s"CASE WHEN n - ns*32 - t8*8 - t4*4 >= ${b + 1} THEN " +
        mm64(rotl(s"xor(($h), ($byte * 2870177450012600261) % $M)", 11), p1) +
        s" ELSE ($h) END"
    }
    val seed = BigInt(42)
    val a10 = (seed + BigInt(p1) + BigInt(p2)).mod(mask)
    val a20 = (seed + BigInt(p2)).mod(mask)
    val a40 = (seed - BigInt(p1)).mod(mask)
    val seedP5 = (seed + BigInt("2870177450012600261")).mod(mask)
    def upd(acc: String, k: Int): String =
      rnd(acc, lane(s"32*(i.a1) + ${8 * k}", 8))
    val reduceExpr =
      s"""list_reduce(list_prepend(
         |  {'a1': CAST($a10 AS HUGEINT), 'a2': CAST($a20 AS HUGEINT),
         |   'a3': CAST(42 AS HUGEINT), 'a4': CAST($a40 AS HUGEINT)},
         |  list_transform(range(CAST(ns AS BIGINT)), x ->
         |    {'a1': CAST(x AS HUGEINT), 'a2': CAST(0 AS HUGEINT),
         |     'a3': CAST(0 AS HUGEINT), 'a4': CAST(0 AS HUGEINT)})),
         |  (st, i) -> {'a1': ${upd("st.a1", 0)},
         |    'a2': ${upd("st.a2", 1)}, 'a3': ${upd("st.a3", 2)},
         |    'a4': ${upd("st.a4", 3)}})""".stripMargin
    val rfpExpr =
      s"""CASE WHEN len(by) >= 8 THEN
         |  [ list_reduce(list_prepend(CAST(14695981039346656037 AS HUGEINT),
         |      by[p : p + 7]), (h, b) -> ${mm64("xor(h, b)", "1099511628211")})
         |    FOR p IN range(1, len(by) - 6) ]
         |  ELSE CAST([] AS HUGEINT[]) END""".stripMargin
    s"""WITH t AS (SELECT doc_id, $duckToks AS tk FROM documents),
       |b0 AS (
       |  SELECT doc_id,
       |    CASE WHEN len(tk) = 0 THEN CAST([] AS HUGEINT[])
       |    ELSE list_transform(string_split(array_to_string(tk, ' '), ''),
       |      c -> CAST(unicode(c) AS HUGEINT)) END AS by
       |  FROM t),
       |b1 AS (SELECT doc_id, by, CAST(len(by) AS HUGEINT) AS n,
       |  CAST(len(by) // 32 AS HUGEINT) AS ns FROM b0),
       |b2 AS (SELECT doc_id, by, n, ns,
       |  CASE WHEN n >= 32 THEN $reduceExpr ELSE NULL END AS st FROM b1),
       |b3 AS (SELECT doc_id, by, n, ns, st,
       |  CASE WHEN n >= 32 THEN (${rotl("st.a1", 1)} + ${rotl("st.a2", 7)} +
       |    ${rotl("st.a3", 12)} + ${rotl("st.a4", 18)}) % $M
       |  ELSE CAST($seedP5 AS HUGEINT) END AS h0 FROM b2),
       |m1 AS (SELECT doc_id, by, n, ns, st,
       |  CASE WHEN n >= 32 THEN ${mergeRound("h0", "st.a1")} ELSE h0 END AS hm1 FROM b3),
       |m2 AS (SELECT doc_id, by, n, ns, st,
       |  CASE WHEN n >= 32 THEN ${mergeRound("hm1", "st.a2")} ELSE hm1 END AS hm2 FROM m1),
       |m3 AS (SELECT doc_id, by, n, ns, st,
       |  CASE WHEN n >= 32 THEN ${mergeRound("hm2", "st.a3")} ELSE hm2 END AS hm3 FROM m2),
       |b4 AS (SELECT doc_id, by, n, ns,
       |  CASE WHEN n >= 32 THEN ${mergeRound("hm3", "st.a4")} ELSE hm3 END AS h1 FROM m3),
       |b5 AS (SELECT doc_id, by, n, ns,
       |  CAST((n - ns*32) // 8 AS HUGEINT) AS t8, (h1 + n) % $M AS h2 FROM b4),
       |b6 AS (SELECT doc_id, by, n, ns, t8, ${tail8("h2", 0)} AS h3 FROM b5),
       |b7 AS (SELECT doc_id, by, n, ns, t8, ${tail8("h3", 1)} AS h4 FROM b6),
       |b8 AS (SELECT doc_id, by, n, ns, t8, ${tail8("h4", 2)} AS h5 FROM b7),
       |b9 AS (SELECT doc_id, by, n, ns, t8,
       |  CASE WHEN n - ns*32 - t8*8 >= 4 THEN CAST(1 AS HUGEINT)
       |  ELSE CAST(0 AS HUGEINT) END AS t4, h5 FROM b8),
       |c0 AS (SELECT doc_id, by, n, ns, t8, t4, ${tail4("h5")} AS h6 FROM b9),
       |c1 AS (SELECT doc_id, by, n, ns, t8, t4, ${tail1("h6", 0)} AS h7 FROM c0),
       |c2 AS (SELECT doc_id, by, n, ns, t8, t4, ${tail1("h7", 1)} AS h8 FROM c1),
       |c3 AS (SELECT doc_id, by, n, ns, t8, t4, ${tail1("h8", 2)} AS h9 FROM c2),
       |d0 AS (SELECT doc_id, ${mm64("xor(h9, h9 // 8589934592)", p2)} AS z1 FROM c3),
       |d1 AS (SELECT doc_id, ${mm64("xor(z1, z1 // 536870912)", p3)} AS z2 FROM d0),
       |d2 AS (SELECT doc_id, xor(z2, z2 // 4294967296) AS z3 FROM d1),
       |rf AS (
       |  SELECT b1.doc_id, CAST(COUNT(DISTINCT h) AS BIGINT) AS n_rolling_fp
       |  FROM b1, UNNEST($rfpExpr) AS u(h)
       |  WHERE h % 4 = 0 GROUP BY b1.doc_id)
       |SELECT d2.doc_id,
       |  CAST(CASE WHEN z3 >= 9223372036854775808 THEN z3 - $M
       |    ELSE z3 END AS BIGINT) AS fp_xx,
       |  COALESCE(rf.n_rolling_fp, 0) AS n_rolling_fp
       |FROM d2 LEFT JOIN rf ON rf.doc_id = d2.doc_id
       |ORDER BY d2.doc_id""".stripMargin
  }

  /** Cumulative Poisson(1) thresholds P(X ≤ k), k = 0..7 — computed
    * ONCE here and embedded as the IDENTICAL double literals in the
    * Spark expression (lit) and the oracle SQL (Double.toString
    * round-trips), so the inverse-CDF draw has no cross-engine exp
    * seam. Weights above 7 collapse to 8 (P ≈ 1e-5 tail).
    */
  private[queries] val poissonCum: Seq[Double] = {
    var p = math.exp(-1.0); var c = p
    val out = scala.collection.mutable.ArrayBuffer(c)
    for (k <- 1 to 7) { p = p / k; c += p; out += c }
    out.toSeq
  }

  /** q_bootstrap_ci's twin: the mix64 replay (staged CTE columns — the
    * walkOracle discipline) + the same threshold CASE + the same exact-
    * integer replica sums and rank-5/196 order statistics.
    */
  private def bootstrapOracle: String = {
    val mM = "18446744073709551616"
    val seedT =
      java.lang.Long.toUnsignedString(77L * 0x9e3779b97f4a7c15L)
    val wCase = poissonCum.zipWithIndex
      .map { case (c, k) => s"WHEN u < $c THEN $k" }
      .mkString("CASE ", " ", " ELSE 8 END")
    s"""WITH b0 AS (
       |  SELECT d.doc_id, d.source, d.n_chars, CAST(rr.r AS BIGINT) AS r
       |  FROM documents d, (SELECT UNNEST(range(200)) AS r) rr),
       |b1 AS (SELECT *, ($seedT + ${mm64("CAST(doc_id AS HUGEINT)", "14029467366897019727")}
       |  + ${mm64("CAST(r AS HUGEINT)", "1609587929392839161")} + 0) % $mM AS z0 FROM b0),
       |b2 AS (SELECT *, ${mm64("xor(z0, z0 // 1073741824)", "13787848793156543929")} AS z1 FROM b1),
       |b3 AS (SELECT *, ${mm64("xor(z1, z1 // 134217728)", "10723151780598845931")} AS z2 FROM b2),
       |b4 AS (SELECT *, xor(z2, z2 // 2147483648) AS zz FROM b3),
       |b5 AS (
       |  SELECT doc_id, source, n_chars, r,
       |    CAST(CASE WHEN zz >= 9223372036854775808
       |      THEN zz - $mM ELSE zz END AS BIGINT) AS zs
       |  FROM b4),
       |b6 AS (
       |  SELECT *, CAST(zs AS DOUBLE) / 18446744073709551616.0 +
       |    CASE WHEN zs < 0 THEN 1.0 ELSE 0.0 END AS u
       |  FROM b5),
       |b7 AS (SELECT source, r, n_chars, $wCase AS w FROM b6),
       |pr AS (
       |  SELECT source, r, SUM(w) AS sw, SUM(w * n_chars) AS swx
       |  FROM b7 GROUP BY source, r),
       |pm AS (
       |  SELECT source, r, CAST(swx AS DOUBLE) / sw AS m,
       |    ${ratio6Sql("swx", "sw")} AS m6
       |  FROM pr WHERE sw > 0),
       |rk AS (
       |  SELECT source, m, m6,
       |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY m, r) AS rn
       |  FROM pm),
       |ci AS (
       |  SELECT source,
       |    MAX(CASE WHEN rn = 5 THEN m6 END) AS ci_lo_r,
       |    MAX(CASE WHEN rn = 196 THEN m6 END) AS ci_hi_r
       |  FROM rk GROUP BY source),
       |pt AS (
       |  SELECT source,
       |    ${ratio6Sql("SUM(n_chars)", "COUNT(*)")} AS mean_r
       |  FROM documents GROUP BY source)
       |SELECT pt.source, mean_r, ci_lo_r, ci_hi_r
       |FROM pt JOIN ci USING (source) ORDER BY source""".stripMargin
  }

  /** The repetition-census twin (TextAnalysis.repetitionStats unrolled:
    * 2-gram concentration, 3-gram duplicate mass, duplicate 10-token
    * blocks as INTEGER counts) — shared by the q_rep_ngrams and
    * q_gopher_gate oracles. Exposes `rep(doc_id, n_tokens, top2_n,
    * g2_tot, dup3_n, g3_tot, dupch_n, ch_tot)`.
    */
  private def repCte: String =
    s"""rt AS (SELECT doc_id, $duckToks AS tk FROM documents),
       |rg2 AS (
       |  SELECT doc_id, UNNEST([array_to_string(tk[i:i+1], ' ')
       |    FOR i IN range(1, len(tk))]) AS g
       |  FROM rt WHERE len(tk) >= 2),
       |rc2 AS (
       |  SELECT doc_id, MAX(cnt) AS top2_n, SUM(cnt) AS g2_tot FROM (
       |    SELECT doc_id, g, COUNT(*) AS cnt FROM rg2 GROUP BY doc_id, g) x
       |  GROUP BY doc_id),
       |rg3 AS (
       |  SELECT doc_id, UNNEST([array_to_string(tk[i:i+2], ' ')
       |    FOR i IN range(1, len(tk) - 1)]) AS g
       |  FROM rt WHERE len(tk) >= 3),
       |rc3 AS (
       |  SELECT doc_id, COUNT(*) AS g3_tot, COUNT(DISTINCT g) AS g3_dst
       |  FROM rg3 GROUP BY doc_id),
       |rch AS (
       |  SELECT doc_id, UNNEST([array_to_string(tk[(10*c+1):(10*c+10)], ' ')
       |    FOR c IN range(0, len(tk) // 10)]) AS g
       |  FROM rt WHERE len(tk) >= 10),
       |rcc AS (
       |  SELECT doc_id, COUNT(*) AS ch_tot, COUNT(DISTINCT g) AS ch_dst
       |  FROM rch GROUP BY doc_id),
       |rep AS (
       |  SELECT t.doc_id, CAST(len(t.tk) AS BIGINT) AS n_tokens,
       |    CAST(COALESCE(c2.top2_n, 0) AS BIGINT) AS top2_n,
       |    CAST(COALESCE(c2.g2_tot, 0) AS BIGINT) AS g2_tot,
       |    CAST(COALESCE(c3.g3_tot - c3.g3_dst, 0) AS BIGINT) AS dup3_n,
       |    CAST(COALESCE(c3.g3_tot, 0) AS BIGINT) AS g3_tot,
       |    CAST(COALESCE(cc.ch_tot - cc.ch_dst, 0) AS BIGINT) AS dupch_n,
       |    CAST(COALESCE(cc.ch_tot, 0) AS BIGINT) AS ch_tot
       |  FROM rt t LEFT JOIN rc2 c2 USING (doc_id)
       |    LEFT JOIN rc3 c3 USING (doc_id)
       |    LEFT JOIN rcc cc USING (doc_id))""".stripMargin

  /** q_corpus_pipeline's gate chain, shared by v1/v2/v3: non-bench
    * docs with rounded quality `q` >= 0.75, then exact dedup (the min
    * doc id per token fingerprint).
    */
  private def qualityDeduped(base: DataFrame): DataFrame = {
    // eager pin (the coPurchaseEdges discipline): train is consumed
    // by the fingerprint build AND the semi-join left side, and the
    // column-pruning fork re-ran the qualityScore+tokenize scan twice
    val train = base.filter(pmod(col("doc_id"), lit(10)) =!= 7)
      .withColumn("q", round(TextAnalysis.qualityScore(col("text")), 6))
      .filter(col("q") >= 0.75)
      .localCheckpoint(true)
    val keep = train
      .select(col("doc_id"),
        md5(concat_ws(" ", Dedup.tokens(col("text")))).as("fp"))
      .groupBy(col("fp")).agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"))
    train.join(keep, Seq("doc_id"), "left_semi")
  }

  /** The planted q_dedup_cc graph: each customer's orders below 5000,
    * chained in order-key order (`id_a` the previous order, `id_b` the
    * next), so the components are the customers with two or more.
    */
  private def orderChainPairs(s: SparkSession, d: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("o_custkey")).orderBy(col("o_orderkey"))
    Tables.orders(s, d).filter(col("o_orderkey") < 5000)
      .select(col("o_custkey"), col("o_orderkey"))
      .withColumn("prev", lag(col("o_orderkey"), 1).over(w))
      .filter(col("prev").isNotNull)
      .select(col("prev").as("id_a"), col("o_orderkey").as("id_b"))
  }

  /** The q_dedup_cc components without recursion (a per-customer window
    * min); q_dedup_cc_incremental must reproduce the same closure. */
  private val dedupCcSql =
    """WITH o AS (
      |  SELECT o_custkey, o_orderkey FROM orders WHERE o_orderkey < 5000
      |), c AS (
      |  SELECT o_orderkey,
      |    COUNT(*) OVER (PARTITION BY o_custkey) AS n,
      |    MIN(o_orderkey) OVER (PARTITION BY o_custkey) AS comp
      |  FROM o
      |)
      |SELECT o_orderkey AS id, comp FROM c WHERE n > 1
      |ORDER BY id""".stripMargin

  val declarations: Seq[Query] = Seq(
    // token counting: whitespace + BPE-ish pre-tokenizer regex
    Query("q_token_count", (s, d) => {
      docs(s, d).select(
        col("doc_id"),
        TextAnalysis.tokenCountWs(col("text")).as("n_ws"),
        TextAnalysis.tokenCountBpeish(col("text")).as("n_bpeish"),
        length(col("text")).cast("long").as("n_chars_m"))
        .orderBy(col("doc_id"))
    }, Sql(
      s"""SELECT doc_id,
         |  CAST(len($duckToks) AS BIGINT) AS n_ws,
         |  CAST(len(regexp_extract_all(text, '\\p{L}+|\\p{N}+|[^\\p{L}\\p{N}\\s]')) AS BIGINT) AS n_bpeish,
         |  CAST(length(text) AS BIGINT) AS n_chars_m
         |FROM documents ORDER BY doc_id""".stripMargin)),

    // quality metrics + composite score
    Query("q_text_quality", (s, d) => {
      docs(s, d).select(
        Seq(col("doc_id")) ++
          TextAnalysis.qualityMetrics(col("text")) :+
          TextAnalysis.qualityScore(col("text")).as("quality"): _*)
        .orderBy(col("doc_id"))
    }, Sql(
      s"""WITH t AS (
         |  SELECT doc_id, text, $duckToks AS toks,
         |    CAST(length(text) AS DOUBLE) AS nchar
         |  FROM documents
         |)
         |SELECT doc_id,
         |  CAST(nchar AS BIGINT) AS n_chars_m,
         |  CAST(len(toks) AS BIGINT) AS n_tokens,
         |  ROUND(CASE WHEN nchar = 0 THEN 0.0 ELSE
         |    len(regexp_extract_all(text, '[[:punct:]]')) / nchar END, 6) AS punct_ratio,
         |  ROUND(CASE WHEN nchar = 0 THEN 0.0 ELSE
         |    len(regexp_extract_all(text, '[A-Z]')) / nchar END, 6) AS upper_ratio,
         |  ROUND($duckStopRatio, 6) AS stopword_ratio,
         |  ROUND(CASE WHEN len(toks) = 0 THEN 0.0 ELSE
         |    CAST(list_aggregate(list_transform(toks, x -> CAST(len(x) AS BIGINT)), 'sum') AS DOUBLE) / len(toks) END, 6) AS mean_token_len,
         |  $duckQuality AS quality
         |FROM t ORDER BY doc_id""".stripMargin)),

    // language-ID heuristic + per-language hit counts
    Query("q_lang_id", (s, d) => {
      docs(s, d).select(
        Seq(col("doc_id")) ++
          TextAnalysis.langHits(col("text")) :+
          TextAnalysis.langId(col("text")).as("lang_guess"): _*)
        .orderBy(col("doc_id"))
    }, Sql(
      s"""WITH t AS (
         |  SELECT doc_id, $duckToks AS toks FROM documents
         |), h AS (
         |  SELECT doc_id,
         |    CAST(len(list_filter(toks, x -> list_contains(['der','die','und','das','nicht','ist','von','mit','den','im'], x))) AS BIGINT) AS hits_de,
         |    CAST(len(list_filter(toks, x -> list_contains(['the','and','of','to','is','in','that','it','for','with'], x))) AS BIGINT) AS hits_en,
         |    CAST(len(list_filter(toks, x -> list_contains(['el','la','de','que','y','en','los','del','las','por'], x))) AS BIGINT) AS hits_es,
         |    CAST(len(list_filter(toks, x -> list_contains(['le','la','et','les','des','est','dans','que','pour','une'], x))) AS BIGINT) AS hits_fr
         |  FROM t
         |)
         |SELECT doc_id, hits_de, hits_en, hits_es, hits_fr,
         |  CASE WHEN GREATEST(hits_de, hits_en, hits_es, hits_fr) = 0 THEN 'und'
         |       WHEN hits_de = GREATEST(hits_de, hits_en, hits_es, hits_fr) THEN 'de'
         |       WHEN hits_en = GREATEST(hits_de, hits_en, hits_es, hits_fr) THEN 'en'
         |       WHEN hits_es = GREATEST(hits_de, hits_en, hits_es, hits_fr) THEN 'es'
         |       ELSE 'fr' END AS lang_guess
         |FROM h ORDER BY doc_id""".stripMargin)),

    // md5 content fingerprint (oracle-able) — xxhash64 variant in
    // q_fingerprint_xx (rows-only; xxhash64 is Spark-specific)
    Query("q_fingerprint", (s, d) => {
      docs(s, d).select(
        col("doc_id"),
        md5(concat_ws(" ", Dedup.tokens(col("text")))).as("fp_md5"))
        .orderBy(col("doc_id"))
    }, Sql(
      s"""SELECT doc_id,
         |  md5(array_to_string($duckToks, ' ')) AS fp_md5
         |FROM documents ORDER BY doc_id""".stripMargin), headline = false),

    Query("q_fingerprint_xx", (s, d) => {
      docs(s, d).select(
        col("doc_id"),
        TextAnalysis.fingerprint(col("text")).as("fp_xx"),
        size(TextAnalysis.rollingFingerprints(col("text"), 8, 4)).cast("long")
          .as("n_rolling_fp"))
        .orderBy(col("doc_id"))
    }, Sql(xxhashOracle), headline = false),

    // exact dedup by content hash, min-id winner
    Query("q_dedup_exact", (s, d) => {
      Dedup.exactDedup(docs(s, d))
        .orderBy(col("content_hash"))
    }, Sql(
      """SELECT md5(text) AS content_hash, MIN(doc_id) AS keep_id,
        |  COUNT(*) AS n_copies
        |FROM documents GROUP BY md5(text) ORDER BY content_hash""".stripMargin)),

    // RAG-style overlapping chunking: 20-token windows, stride 10 — one
    // tokenization per doc behind the aggregate barrier, then a map-side
    // explode. Fully oracled (tokenizer parity contract + arithmetic
    // window math reproduce exactly in DuckDB).
    Query("q_chunk_docs", (s, d) => {
      TextAnalysis.chunkDocs(docs(s, d), k = 20, stride = 10)
        .orderBy(col("doc_id"), col("chunk_idx"))
    }, Sql(
      s"""WITH t AS (
        |  SELECT doc_id, $duckToks AS toks FROM documents
        |),
        |nz AS (SELECT doc_id, toks, len(toks) AS n FROM t WHERE len(toks) > 0),
        |c AS (SELECT doc_id, toks, n,
        |        1 + greatest(0, CAST(ceil((n - 20) / 10.0) AS INT)) AS nchunks
        |      FROM nz),
        |x AS (SELECT doc_id, toks, n,
        |        unnest(generate_series(0, nchunks - 1)) AS i FROM c)
        |SELECT doc_id,
        |  CAST(i AS BIGINT) AS chunk_idx,
        |  array_to_string(toks[(i*10 + 1):(i*10 + 20)], ' ') AS chunk_text,
        |  CAST(least(20, n - i*10) AS BIGINT) AS n_tokens_chunk
        |FROM x ORDER BY doc_id, chunk_idx""".stripMargin)),

    // INCREMENTAL exact dedup: even-id docs play the historical corpus
    // (only their fingerprint index is touched), odd-id docs the new
    // ingest batch — batch-internal min-id dedup + anti-join against the
    // index, the per-ingest cost shape at 100 TB. Fully oracled (md5
    // agrees cross-engine).
    Query("q_dedup_incremental", (s, d) => {
      val base = docs(s, d)
      val index = Dedup.exactDedup(base.filter(pmod(col("doc_id"), lit(2)) === 0))
        .select(col("content_hash"))
      Dedup.incrementalDedup(base.filter(pmod(col("doc_id"), lit(2)) === 1), index)
        .orderBy(col("content_hash"))
    }, Sql(
      """WITH idx AS (
        |  SELECT DISTINCT md5(text) AS content_hash
        |  FROM documents WHERE doc_id % 2 = 0
        |),
        |batch AS (
        |  SELECT md5(text) AS content_hash, MIN(doc_id) AS keep_id,
        |    COUNT(*) AS n_copies
        |  FROM documents WHERE doc_id % 2 = 1 GROUP BY md5(text)
        |)
        |SELECT b.content_hash, b.keep_id, b.n_copies FROM batch b
        |ANTI JOIN idx i ON b.content_hash = i.content_hash
        |ORDER BY b.content_hash""".stripMargin)),

    // exact unigram-set Jaccard over all doc pairs with id < 30 — the
    // ground-truth near-dup measure the LSH paths approximate
    Query("q_ngram_jaccard", (s, d) => {
      val base = docs(s, d).filter(col("doc_id") < 30)
        .select(col("doc_id"), array_distinct(Dedup.tokens(col("text"))).as("toks"))
      val a = base.select(col("doc_id").as("id_a"), col("toks").as("ta"))
      val b = base.select(col("doc_id").as("id_b"), col("toks").as("tb"))
      a.crossJoin(b).filter(col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"),
          round(Dedup.jaccard(col("ta"), col("tb")), 6).as("jaccard"))
        .filter(col("jaccard") >= 0.5)
        .orderBy(col("id_a"), col("id_b"))
    }, Sql(
      s"""WITH base AS (
         |  SELECT doc_id, list_distinct($duckToks) AS toks
         |  FROM documents WHERE doc_id < 30
         |),
         |tok AS (SELECT doc_id, UNNEST(toks) AS w FROM base),
         |sizes AS (SELECT doc_id, len(toks) AS n FROM base),
         |inter AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS c
         |  FROM tok a JOIN tok b ON a.w = b.w AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2
         |),
         |pairs AS (
         |  SELECT sa.doc_id AS id_a, sb.doc_id AS id_b,
         |    COALESCE(i.c, 0) AS c, sa.n AS na, sb.n AS nb
         |  FROM sizes sa JOIN sizes sb ON sa.doc_id < sb.doc_id
         |  LEFT JOIN inter i ON i.id_a = sa.doc_id AND i.id_b = sb.doc_id
         |)
         |SELECT id_a, id_b,
         |  ROUND(CASE WHEN na + nb - c = 0 THEN 0.0
         |        ELSE CAST(c AS DOUBLE) / (na + nb - c) END, 6) AS jaccard
         |FROM pairs
         |WHERE ROUND(CASE WHEN na + nb - c = 0 THEN 0.0
         |      ELSE CAST(c AS DOUBLE) / (na + nb - c) END, 6) >= 0.5
         |ORDER BY id_a, id_b""".stripMargin), headline = false),

    // MinHash LSH near-dup pairs over the FULL documents table (trigram
    // shingles, 8 bands × 4 rows → collision threshold (1/b)^(1/r) ≈ 0.59,
    // tuned to the 0.8 near-dup cut). Trigram Jaccard on this corpus is
    // bimodal — planted near-dups ≥ 0.8, everything else ≈ 0 — so the
    // banding admits O(planted) candidate pairs and the exact-Jaccard
    // verification join touches a vanishing fraction of all pairs.
    // (Unigram shingles over the small shared vocabulary make ~72% of ALL
    // pairs candidates — the mis-tuned-LSH failure mode: measured 90,303
    // candidates among 500 docs where the true ≥0.8 near-dup count is 25.)
    // VALUE-ORACLED since r12: the banding twin (the oracle's minhashCte)
    // plus a ROW_NUMBER mirror of the cappedKeyedPairs algebra rebuilds
    // the exact pair set in DuckDB — the flagship dedup family is
    // hash-matched end-to-end, not just recall-tested.
    Query("q_dedup_minhash", (s, d) => {
      Dedup.minhashNearDups(docs(s, d), threshold = 0.8,
        nShingle = 3, bands = 8, rowsPerBand = 4)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
        .orderBy(col("id_a"), col("id_b"))
    }, Sql(
      // the FULL LSH near-dup flow (DE-EXEMPTED r12): capped in-bucket
      // pairing (first 256 ids per (band,bucket) pair fully, overflow
      // star-attaches to the bucket min — the cappedKeyedPairs algebra,
      // mirrored with ROW_NUMBER exactly like q_bucket_pairs_capped),
      // distinct pairs, exact Jaccard over the distinct shingle lists,
      // threshold on the UNROUNDED value (small-int division is
      // IEEE-identical cross-engine), 6dp round at output only.
      s"""WITH $minhashCte,
         |${cappedPairCtes("doc_id", "mh_buckets")},
         |j AS (
         |  SELECT c.id_a, c.id_b,
         |    CAST(len(list_intersect(sa.shs, sb.shs)) AS DOUBLE) AS inter,
         |    CAST(len(sa.shs) + len(sb.shs) AS DOUBLE) AS tot
         |  FROM cand c
         |  JOIN mh_shingles sa ON sa.doc_id = c.id_a
         |  JOIN mh_shingles sb ON sb.doc_id = c.id_b
         |)
         |SELECT id_a, id_b,
         |  ROUND(inter / (tot - inter), 6) AS jaccard
         |FROM j
         |WHERE tot - inter > 0 AND inter / (tot - inter) >= 0.8
         |ORDER BY id_a, id_b""".stripMargin)),

    // EXACT set-similarity self-join (PPJoin prefix filtering) at the
    // same 0.8 threshold as q_dedup_minhash — the zero-false-negative
    // ground truth next to the LSH path. Threshold as the RATIONAL 4/5:
    // every prune and the verify itself are integer arithmetic (see
    // Dedup.prefixJaccardJoin on the ceil(0.8·5) double trap). The
    // oracle is PURE BRUTE FORCE (all doc pairs, no filters), so a
    // lossy prefix/length filter would surface as missing rows — the
    // losslessness theorem is what the cross-engine gate checks.
    Query("q_ssjoin_exact", (s, d) => {
      Dedup.prefixJaccardJoin(docs(s, d), tn = 4, td = 5, nShingle = 3)
        .select(col("id_a"), col("id_b"), col("inter"), col("uni"),
          round(col("jaccard"), 6).as("j_r"))
        .orderBy(col("id_a"), col("id_b"))
    }, Sql(
      // PURE BRUTE FORCE (every doc pair, no length/prefix filter): any
      // false negative in the engine's prefix filtering shows as a
      // missing row here — the oracle independently witnesses the PPJoin
      // losslessness theorem, not just the arithmetic
      s"""WITH $shinglesCte,
         |ne AS (
         |  SELECT doc_id, shs, CAST(len(shs) AS BIGINT) AS sz
         |  FROM mh_shingles WHERE len(shs) > 0),
         |j AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |    CAST(len(list_intersect(a.shs, b.shs)) AS BIGINT) AS inter,
         |    a.sz + b.sz - CAST(len(list_intersect(a.shs, b.shs)) AS BIGINT) AS uni
         |  FROM ne a JOIN ne b ON a.doc_id < b.doc_id)
         |SELECT id_a, id_b, inter, uni,
         |  ROUND(CAST(inter AS DOUBLE) / uni, 6) AS j_r
         |FROM j WHERE 5 * inter >= 4 * uni
         |ORDER BY id_a, id_b""".stripMargin)),

    // the PPJoin pruning funnel (all pairs → length-bound survivors →
    // prefix candidates → verified) — the one-row observability report
    // that justifies the prefix filter at scale; the length-pair count
    // comes from the size-histogram self-join, never from materialized
    // pairs. Fully oracled: the funnel arithmetic mirrors in SQL.
    Query("q_ssjoin_stats", (s, d) =>
      Dedup.prefixJaccardFunnel(docs(s, d), tn = 4, td = 5, nShingle = 3),
      Sql(
      // the funnel arithmetic mirrored stage by stage (sizes histogram,
      // integer prefix length (4·sz+4)//5, rarest-first ROW_NUMBER order)
      s"""WITH $shinglesCte,
         |ne AS (
         |  SELECT doc_id AS id, shs, CAST(len(shs) AS BIGINT) AS sz
         |  FROM mh_shingles WHERE len(shs) > 0),
         |nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM ne),
         |hist AS (SELECT sz, CAST(COUNT(*) AS BIGINT) AS cnt FROM ne GROUP BY sz),
         |lp AS (
         |  SELECT CAST(COALESCE(SUM(CASE WHEN a.sz = b.sz
         |      THEN a.cnt * (a.cnt - 1) // 2
         |      ELSE a.cnt * b.cnt END), 0) AS BIGINT) AS n_length_pairs
         |  FROM hist a JOIN hist b
         |    ON a.sz <= b.sz AND 4 * b.sz <= 5 * a.sz),
         |tok AS (SELECT id, sz, UNNEST(shs) AS g FROM ne),
         |dfq AS (SELECT g, COUNT(*) AS dfreq FROM tok GROUP BY g),
         |pref AS (
         |  SELECT g, id, sz, rn AS pos FROM (
         |    SELECT t.g, t.id, t.sz,
         |      ROW_NUMBER() OVER (PARTITION BY t.id ORDER BY d.dfreq, t.g) AS rn
         |    FROM tok t JOIN dfq d USING (g)) x
         |  WHERE rn <= sz - (4 * sz + 4) // 5 + 1),
         |jn AS (
         |  SELECT a.id AS id_a, b.id AS id_b,
         |    (1 + least(a.sz - a.pos, b.sz - b.pos)) * 9 >= 4 * (a.sz + b.sz)
         |      AS pos_ok
         |  FROM pref a JOIN pref b ON a.g = b.g AND a.id < b.id
         |   AND 4 * greatest(a.sz, b.sz) <= 5 * least(a.sz, b.sz)),
         |cand AS (SELECT DISTINCT id_a, id_b FROM jn),
         |candp AS (SELECT DISTINCT id_a, id_b FROM jn WHERE pos_ok),
         |nc AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_candidates FROM cand),
         |ncp AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_candidates_pos
         |        FROM candp),
         |nv AS (
         |  SELECT CAST(COUNT(*) AS BIGINT) AS n_verified
         |  FROM candp c JOIN ne a ON a.id = c.id_a JOIN ne b ON b.id = c.id_b
         |  WHERE 5 * len(list_intersect(a.shs, b.shs)) >=
         |        4 * (a.sz + b.sz - len(list_intersect(a.shs, b.shs))))
         |SELECT n_docs, n_docs * (n_docs - 1) // 2 AS n_all_pairs,
         |  n_length_pairs, n_candidates, n_candidates_pos, n_verified
         |FROM nd, lp, nc, ncp, nv""".stripMargin)),

    // LSH recall audit (the blocking-quality metric for the MinHash
    // family): the banded-LSH near-dup pair set vs the EXACT PPJoin
    // pair set at the same 0.8 threshold — recall = |lsh| / |exact| as
    // one exact integer ratio, plus the miss count. Both relations are
    // the very ones q_dedup_minhash and q_ssjoin_exact report (shared
    // operators), so the audit can't drift from what it audits; LSH
    // verification keeps its double-threshold convention and the exact
    // side its integer one — they agree on boundary pairs because
    // fl(p/q) for the rational 4/5 IS the double literal 0.8.
    Query("q_lsh_recall", (s, d) => {
      // eager pins (the coPurchaseEdges discipline): each pair set is
      // consumed twice below (own count + the hit join), and the
      // column-pruning fork — count() prunes ALL columns — defeats AQE
      // exchange reuse, so without the pins the full LSH and PPJoin
      // pipelines each ran twice (measured r17: 21 jobs, 3.6 s).
      // r18: (a) ONE shingle pass feeds both pipelines (the text forms
      // each re-tokenized the same corpus — 3 redundant passes total);
      // (b) the two pins are INDEPENDENT jobs, so they run overlapped
      // from two driver threads (guide §2.6) instead of serially — the
      // LSH pipeline back-fills the cores the PPJoin tail leaves idle.
      // Each pipeline's own result is untouched by the overlap.
      val sets = Dedup.shingleSets(docs(s, d), nShingle = 3)
      val Seq(lsh, exact) = graft.operators.Guarded.pinAll(s)(Seq(
        () => Dedup.minhashNearDupsFromSets(sets,
          threshold = 0.8, bands = 8, rowsPerBand = 4)
          .select(col("id_a"), col("id_b"))
          .localCheckpoint(true),
        () => Dedup.prefixJaccardJoinFromSets(sets, tn = 4,
          td = 5).select(col("id_a"), col("id_b"))
          .localCheckpoint(true)))
      val nL = lsh.agg(count(lit(1)).as("n_lsh"))
      val nE = exact.agg(count(lit(1)).as("n_exact"))
      val nH = lsh.join(exact, Seq("id_a", "id_b"))
        .agg(count(lit(1)).as("n_hit"))
      nE.crossJoin(broadcast(nL)).crossJoin(broadcast(nH))
        .select(col("n_exact"), col("n_lsh"), col("n_hit"),
          (col("n_exact") - col("n_hit")).as("n_missed"),
          when(col("n_exact") > 0,
            ratio6(col("n_hit"), col("n_exact"))).otherwise(lit(1.0))
            .as("recall_r"))
    }, Sql(
      // both pair relations replayed (the banding chain verbatim from
      // q_dedup_minhash, the brute force from q_ssjoin_exact) + counts
      s"""WITH $minhashCte,
         |${cappedPairCtes("doc_id", "mh_buckets")},
         |jl AS (
         |  SELECT c.id_a, c.id_b,
         |    CAST(len(list_intersect(sa.shs, sb.shs)) AS DOUBLE) AS inter,
         |    CAST(len(sa.shs) + len(sb.shs) AS DOUBLE) AS tot
         |  FROM cand c
         |  JOIN mh_shingles sa ON sa.doc_id = c.id_a
         |  JOIN mh_shingles sb ON sb.doc_id = c.id_b
         |),
         |lsh AS (
         |  SELECT id_a, id_b FROM jl
         |  WHERE tot - inter > 0 AND inter / (tot - inter) >= 0.8),
         |ne AS (
         |  SELECT doc_id, shs, CAST(len(shs) AS BIGINT) AS sz
         |  FROM mh_shingles WHERE len(shs) > 0),
         |ex AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM ne a JOIN ne b ON a.doc_id < b.doc_id
         |  WHERE 5 * len(list_intersect(a.shs, b.shs)) >=
         |    4 * (a.sz + b.sz - len(list_intersect(a.shs, b.shs)))),
         |nl AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_lsh FROM lsh),
         |nx AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_exact FROM ex),
         |nh AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_hit
         |  FROM lsh JOIN ex USING (id_a, id_b))
         |SELECT n_exact, n_lsh, n_hit, n_exact - n_hit AS n_missed,
         |  CASE WHEN n_exact > 0 THEN ${ratio6Sql("n_hit", "n_exact")}
         |       ELSE CAST(1.0 AS DOUBLE) END AS recall_r
         |FROM nx, nl, nh""".stripMargin)),

    // Lossless DIRECTIONAL containment join at 9/10 (the asymmetric
    // near-dup relation Jaccard misses: a short doc embedded in a long
    // one — sub-document dedup). PPJoin skeleton with the one-sided
    // threshold (contained side keeps its rarest-first prefix, the
    // container side indexes all tokens; integer length + position
    // prunes; exact verify td·inter ≥ tn·sza). The oracle is PURE
    // BRUTE FORCE over ordered pairs, so any lossy prune would surface
    // as missing rows.
    Query("q_containment_join", (s, d) =>
      Dedup.prefixContainmentJoin(docs(s, d), tn = 9, td = 10,
          nShingle = 3)
        .select(col("id_a"), col("id_b"), col("inter"), col("sza"),
          ratio6(col("inter"), col("sza")).as("c_r"))
        .orderBy(col("id_a"), col("id_b")),
      Sql(
      // brute force over ORDERED pairs (each unordered intersection
      // evaluated once, then emitted in both directions with its own
      // contained-side size) — the losslessness check for the one-sided
      // prefix/length/position prunes
      s"""WITH $shinglesCte,
         |ne AS (
         |  SELECT doc_id, shs, CAST(len(shs) AS BIGINT) AS sz
         |  FROM mh_shingles WHERE len(shs) > 0),
         |j AS (
         |  SELECT a.doc_id AS ia, b.doc_id AS ib,
         |    CAST(len(list_intersect(a.shs, b.shs)) AS BIGINT) AS inter,
         |    a.sz AS sa, b.sz AS sb
         |  FROM ne a JOIN ne b ON a.doc_id < b.doc_id),
         |dir AS (
         |  SELECT ia AS id_a, ib AS id_b, inter, sa AS sza FROM j
         |  UNION ALL
         |  SELECT ib AS id_a, ia AS id_b, inter, sb AS sza FROM j)
         |SELECT id_a, id_b, inter, sza,
         |  ${ratio6Sql("inter", "sza")} AS c_r
         |FROM dir WHERE 10 * inter >= 9 * sza
         |ORDER BY id_a, id_b""".stripMargin)),

    // Zipf slope of the corpus term-frequency distribution (the
    // rank-frequency law every natural corpus should roughly obey —
    // the data-card diagnostic for synthetic/templated text): top-200
    // terms by (freq desc, term) — bounded-then-rank over the
    // post-limit relation — then OLS of ln(freq) on ln(rank) with the
    // four moment sums folded in sorted rank order (sort_array +
    // aggregate HOF here, RECURSIVE CTE there: identical fp op order),
    // slope/intercept written in the same final op order, det6.
    Query("q_zipf_fit", (s, d) => {
      val tf = docs(s, d)
        .select(explode(Dedup.tokens(col("text"))).as("term"))
        .groupBy(col("term")).agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("term")).limit(200)
      val wr = Window.orderBy(col("cnt").desc, col("term"))
      val ranked = tf.withColumn("rank", row_number().over(wr).cast("long"))
      val folded = ranked.agg(
        count(lit(1)).as("n_terms"),
        aggregate(
          sort_array(collect_list(struct(col("rank"), col("cnt")))),
          struct(lit(0.0).as("sx"), lit(0.0).as("sy"),
            lit(0.0).as("sxy"), lit(0.0).as("sxx")),
          (acc, e) => {
            val x = log(e.getField("rank").cast("double"))
            val y = log(e.getField("cnt").cast("double"))
            struct((acc.getField("sx") + x).as("sx"),
              (acc.getField("sy") + y).as("sy"),
              (acc.getField("sxy") + x * y).as("sxy"),
              (acc.getField("sxx") + x * x).as("sxx"))
          }).as("m"))
      val nd = col("n_terms").cast("double")
      val slope = (nd * col("m.sxy") - col("m.sx") * col("m.sy")) /
        (nd * col("m.sxx") - col("m.sx") * col("m.sx"))
      folded.select(col("n_terms"),
        det6(slope).as("slope_r"),
        det6((col("m.sy") - slope * col("m.sx")) / nd).as("intercept_r"))
    }, Sql(
      // the same sorted moment fold as a RECURSIVE CTE (ln() is DuckDB's
      // natural log — the r12 base-10 trap); the closing slope/intercept
      // expressions mirror the engine's op order exactly
      {
      val nd = "CAST(n_terms AS DOUBLE)"
      val slope = s"(($nd * sxy) - (sx * sy)) / (($nd * sxx) - (sx * sx))"
      s"""WITH RECURSIVE tf AS (
         |  SELECT term, CAST(COUNT(*) AS BIGINT) AS cnt
         |  FROM (SELECT UNNEST($duckToks) AS term FROM documents)
         |  GROUP BY term),
         |top AS (
         |  SELECT term, cnt,
         |    CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, term) AS BIGINT)
         |      AS rnk
         |  FROM tf QUALIFY rnk <= 200),
         |n0 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_terms FROM top),
         |rec AS (
         |  SELECT CAST(1 AS BIGINT) AS i,
         |    ln(CAST(rnk AS DOUBLE)) AS sx,
         |    ln(CAST(cnt AS DOUBLE)) AS sy,
         |    ln(CAST(rnk AS DOUBLE)) * ln(CAST(cnt AS DOUBLE)) AS sxy,
         |    ln(CAST(rnk AS DOUBLE)) * ln(CAST(rnk AS DOUBLE)) AS sxx
         |  FROM top WHERE rnk = 1
         |  UNION ALL
         |  SELECT r.i + 1,
         |    r.sx + ln(CAST(t.rnk AS DOUBLE)),
         |    r.sy + ln(CAST(t.cnt AS DOUBLE)),
         |    r.sxy + ln(CAST(t.rnk AS DOUBLE)) * ln(CAST(t.cnt AS DOUBLE)),
         |    r.sxx + ln(CAST(t.rnk AS DOUBLE)) * ln(CAST(t.rnk AS DOUBLE))
         |  FROM rec r JOIN top t ON t.rnk = r.i + 1)
         |SELECT n_terms, ${det6Sql(slope)} AS slope_r,
         |  ${det6Sql(s"(sy - ($slope) * sx) / $nd")} AS intercept_r
         |FROM rec, n0 WHERE i = n_terms""".stripMargin
    })),

    // Deterministic Poisson bootstrap (Chamandy et al. 2012, the
    // resampling scheme that works in one pass at any scale because
    // replica weights are INDEPENDENT per row — no global sample-of-n):
    // 200 replicas of the per-source mean n_chars, each row's replica-r
    // weight = Poisson(1) drawn by inverting mix64(doc_id, r)'s uniform
    // against PRECOMPUTED cumulative literals (the same double literals
    // embedded in both engines — no cross-engine exp/pow seam), CI from
    // exact order statistics of the 200 replica means (ranks 5 / 196 ≈
    // 95%). Scale shape: one ×R map-side expansion, one (source, r)
    // exact-integer aggregate, one R-bounded window per source. The
    // whole resampling REPLAYS in the oracle through the mm64 twin —
    // a bootstrap CI the cross-engine gate can hash-match.
    Query("q_bootstrap_ci", (s, d) => {
      val reps = 200
      val base = docs(s, d).select(col("doc_id"), col("source"),
        col("n_chars"))
      val expd = base.select(col("doc_id"), col("source"), col("n_chars"),
        explode(sequence(lit(0L), lit(reps - 1L))).as("r"))
      val z = graft.functions.TextHashFunctions.mix64(
        col("doc_id"), col("r"), lit(0L), seed = 77)
      val u = (z.cast("double") / lit(18446744073709551616.0)) +
        when(z < 0, lit(1.0)).otherwise(lit(0.0))
      val w = poissonCum.zipWithIndex.foldRight(lit(8L)) {
        case ((c, k), rest) => when(u < lit(c), k.toLong).otherwise(rest)
      }
      val perRep = expd.withColumn("w", w)
        .groupBy(col("source"), col("r"))
        .agg(sum(col("w")).as("sw"),
          sum(col("w") * col("n_chars")).as("swx"))
        .filter(col("sw") > 0)
        .select(col("source"), col("r"),
          (col("swx").cast("double") / col("sw")).as("m"),
          // rank on the raw double ratio (mirrored), REPORT the exact
          // integer 6-dp rounding — no ROUND(DOUBLE) seam in the output
          ratio6(col("swx"), col("sw")).as("m6"))
      val wRank = Window.partitionBy(col("source"))
        .orderBy(col("m"), col("r"))
      val ci = perRep.withColumn("rn", row_number().over(wRank))
        .groupBy(col("source"))
        .agg(max(when(col("rn") === 5, col("m6"))).as("ci_lo_r"),
          max(when(col("rn") === 196, col("m6"))).as("ci_hi_r"))
      val point = base.groupBy(col("source"))
        .agg(ratio6(sum(col("n_chars")), count(lit(1))).as("mean_r"))
      point.join(ci, Seq("source")).orderBy(col("source"))
    }, Sql(bootstrapOracle)),

    // incremental PPJoin probe (the exact twin of
    // q_dedup_incremental_near): the doc_id%10==3 batch against the
    // indexed corpus only, prefix-filtered under ONE union-df order,
    // same rational 4/5 threshold. Oracle is brute force over
    // batch × corpus — the gate witnesses losslessness on the probe
    // form too.
    Query("q_ssjoin_incremental", (s, d) => {
      val base = docs(s, d)
      Dedup.prefixJaccardProbe(
        base.filter(col("doc_id") % 10 =!= 3),
        base.filter(col("doc_id") % 10 === 3), tn = 4, td = 5)
        .select(col("new_id"), col("corpus_id"), col("inter"), col("uni"),
          round(col("jaccard"), 6).as("j_r"))
        .orderBy(col("new_id"), col("corpus_id"))
    }, Sql(
      // brute force over batch × corpus, no filters — losslessness gate
      s"""WITH $shinglesCte,
         |ne AS (
         |  SELECT doc_id, shs, CAST(len(shs) AS BIGINT) AS sz
         |  FROM mh_shingles WHERE len(shs) > 0),
         |j AS (
         |  SELECT b.doc_id AS new_id, c.doc_id AS corpus_id,
         |    CAST(len(list_intersect(b.shs, c.shs)) AS BIGINT) AS inter,
         |    b.sz + c.sz - CAST(len(list_intersect(b.shs, c.shs)) AS BIGINT) AS uni
         |  FROM ne b JOIN ne c
         |    ON b.doc_id % 10 = 3 AND c.doc_id % 10 <> 3)
         |SELECT new_id, corpus_id, inter, uni,
         |  ROUND(CAST(inter AS DOUBLE) / uni, 6) AS j_r
         |FROM j WHERE 5 * inter >= 4 * uni
         |ORDER BY new_id, corpus_id""".stripMargin)),

    // Contamination SEVERITY (the follow-up to q_decontaminate's
    // boolean hit): per contaminated training doc, how many 5-gram
    // positions match the benchmark slice and the LONGEST CONSECUTIVE
    // run of them (runs via the pos − ROW_NUMBER island trick) — a
    // 1-gram-long accidental collision and a 40-token verbatim quote
    // both "hit", but only the span tells you which. Positional grams
    // ride one tokenize barrier + a map-side transform; the bench gram
    // set is dim-sized (it joins the way q_decontaminate's plan does);
    // islands are per-doc windows bounded by the doc's own hit count.
    // Exact integers end to end.
    Query("q_contamination_span", (s, d) => {
      val base = docs(s, d)
      val toks5 = base.filter(pmod(col("doc_id"), lit(10)) =!= 7)
        .select(col("doc_id"), Dedup.tokens(col("text")).as("tk"))
        .groupBy(col("doc_id")).agg(first(col("tk")).as("tk")) // HOF barrier
        .filter(size(col("tk")) >= 5)
      val posGrams = toks5.select(col("doc_id"),
        posexplode(transform(sequence(lit(0), size(col("tk")) - 5),
          i => concat_ws(" ", slice(col("tk"), i + 1, lit(5)))))
          .as(Seq("pos", "g")))
      val benchGrams = base.filter(pmod(col("doc_id"), lit(10)) === 7)
        .select(explode(Dedup.shingles(col("text"), 5)).as("g")).distinct()
      val hits = posGrams.join(benchGrams, Seq("g"))
        .select(col("doc_id"), col("pos"))
        // width pin (the Dedup.prefixOf discipline): the islands window
        // + both rollups all run in the one post-exchange stage, and
        // AQE coalesced its byte-tiny input to a single task
        .repartition(s.sessionState.conf.numShufflePartitions,
          col("doc_id"))
      val wIsl = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      hits.withColumn("grp", col("pos") - row_number().over(wIsl))
        .groupBy(col("doc_id"), col("grp")).agg(count(lit(1)).as("run"))
        .groupBy(col("doc_id"))
        .agg(sum(col("run")).as("n_hit_positions"),
          max(col("run")).as("max_run"),
          (max(col("run")) + 4).as("span_tokens"))
        // boundedSort: the global orderBy's sampling pass re-executed
        // the whole window+rollup stage (measured r17: twin ~360 ms
        // jobs); the report is ≤|contaminated docs| rows
        .transform(graft.operators.Layout.boundedSort(_, col("doc_id")))
    }, Sql(
      // positional 5-grams (struct comprehension: 0-based pos + gram),
      // bench gram set with the same <5-token fallback as the engine's
      // shingle_set, islands via pos − ROW_NUMBER
      s"""WITH t AS (
         |  SELECT doc_id, $duckToks AS tk FROM documents
         |  WHERE doc_id % 10 <> 7),
         |pg AS (
         |  SELECT doc_id,
         |    UNNEST([{'pos': i - 1, 'g': array_to_string(tk[i:i+4], ' ')}
         |      FOR i IN range(1, len(tk) - 3)]) AS s
         |  FROM t WHERE len(tk) >= 5),
         |bt AS (
         |  SELECT $duckToks AS tk FROM documents WHERE doc_id % 10 = 7),
         |bg AS (
         |  SELECT DISTINCT UNNEST(
         |    CASE WHEN len(tk) = 0 THEN CAST([] AS VARCHAR[])
         |         WHEN len(tk) < 5 THEN [array_to_string(tk, ' ')]
         |         ELSE [array_to_string(tk[i:i+4], ' ')
         |               FOR i IN range(1, len(tk) - 3)]
         |    END) AS g
         |  FROM bt),
         |hits AS (
         |  SELECT p.doc_id, CAST(p.s.pos AS BIGINT) AS pos
         |  FROM pg p JOIN bg ON p.s.g = bg.g),
         |isl AS (
         |  SELECT doc_id, pos,
         |    pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
         |  FROM hits),
         |runs AS (
         |  SELECT doc_id, grp, COUNT(*) AS run FROM isl GROUP BY doc_id, grp)
         |SELECT doc_id, CAST(SUM(run) AS BIGINT) AS n_hit_positions,
         |  MAX(run) AS max_run, MAX(run) + 4 AS span_tokens
         |FROM runs GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // Corpus-vs-corpus shared-substring spans (VERDICT r13 Next #7a —
    // the "Deduplicating Training Data" exact-substring direction,
    // generalized from q_contamination_span's one-sided probe to doc
    // PAIRS): positional 5-grams, candidate pairs blocked on RARE grams
    // (corpus dfreq ≤ 20 — a span made ENTIRELY of boilerplate grams is
    // the repetition family's business, not attribution's; the cap
    // bounds the per-gram fan-out at 190 pairs), then the longest
    // common run per pair via diagonal islands: matches of pair (a,b)
    // at positions (pa, pb) lie on diagonal pa−pb, and consecutive pa
    // within one diagonal are one shared substring — the
    // pos − ROW_NUMBER islands trick, windows keyed by (pair, diagonal)
    // so parallelism grows with pairs. Top-50 by longest span with full
    // tiebreak. All integers; oracle replays every step.
    Query("q_cross_doc_spans", (s, d) =>
      Dedup.crossDocSpans(docs(s, d))
        .orderBy(col("max_run").desc, col("a"), col("b")).limit(50),
      Sql(
      // positional 5-grams, rare-gram pair blocking, diagonal islands —
      // the q_contamination_span machinery generalized to pairs
      s"""WITH $crossDocSpanCtes
         |SELECT a, b, max_run, n_matched, max_run + 4 AS span_tokens
         |FROM xds_pairs
         |ORDER BY max_run DESC, a, b LIMIT 50""".stripMargin)),

    // corpus-vs-corpus span dedup (r15): the doc-pair span relation
    // rolled up to SOURCE pairs — which feeds syndicate each other.
    // All-integer outputs; same rare-gram blocking, one broadcast-sized
    // doc→source attach + a |sources|²-bounded aggregate on top.
    Query("q_source_span_overlap", (s, d) =>
      Dedup.sourceSpanOverlap(docs(s, d))
        .orderBy(col("source_a"), col("source_b")),
      Sql(
      // the same span-pair relation rolled up to unordered SOURCE pairs
      // (Dedup.sourceSpanOverlap's twin — one doc→source attach + group)
      s"""WITH $crossDocSpanCtes,
         |ss AS (
         |  SELECT least(da.source, db.source) AS source_a,
         |    greatest(da.source, db.source) AS source_b,
         |    p.max_run, p.n_matched
         |  FROM xds_pairs p
         |  JOIN documents da ON p.a = da.doc_id
         |  JOIN documents db ON p.b = db.doc_id)
         |SELECT source_a, source_b, COUNT(*) AS n_pairs,
         |  CAST(SUM(n_matched) AS BIGINT) AS matched_grams,
         |  MAX(max_run) AS max_run
         |FROM ss GROUP BY source_a, source_b
         |ORDER BY source_a, source_b""".stripMargin)),

    // Intra-document repetition census (Gopher/RefinedWeb repetition
    // rules — TextAnalysis.repetitionStats): top-2-gram concentration,
    // duplicate-3-gram mass, duplicate 10-token blocks, all as INTEGER
    // counts plus one reporting fraction. Fully oracled; the per-doc
    // output is bounded by |documents| (the q_dedup_simhash precedent).
    Query("q_rep_ngrams", (s, d) => {
      TextAnalysis.repetitionStats(docsWide(s, d))
        .select(col("doc_id"), col("n_tokens"), col("top2_n"),
          col("g2_tot"), col("dup3_n"), col("g3_tot"), col("dupch_n"),
          col("ch_tot"),
          when(col("g2_tot") > 0, ratio6(col("top2_n"), col("g2_tot")))
            .otherwise(lit(0.0)).as("top2_frac"))
        // boundedSort: repetitionStats is map-only now, so a global
        // orderBy's range-sampling pass would run the census twice;
        // the report is ≤|docs| rows (the q_compress_ratio precedent)
        .transform(graft.operators.Layout.boundedSort(_, col("doc_id")))
    }, Sql(
      // per-doc repetition census — the repCte relation + the reporting
      // fraction (one exact division, rounded 6dp)
      s"""WITH $repCte
         |SELECT doc_id, n_tokens, top2_n, g2_tot, dup3_n, g3_tot,
         |  dupch_n, ch_tot,
         |  CASE WHEN g2_tot > 0
         |       THEN ${ratio6Sql("top2_n", "g2_tot")}
         |       ELSE 0.0 END AS top2_frac
         |FROM rep ORDER BY doc_id""".stripMargin), headline = false),

    // the corpus admission gate over those rules (the Gopher-style
    // filter report): per source, docs passing min-length (≥5 tokens)
    // + top-2-gram ≤ 5% + duplicate-3-grams ≤ 5% + zero duplicate
    // blocks. Every rule is an INTEGER comparison (20·top2_n ≤ g2_tot —
    // the PPJoin rational-threshold discipline), so pass/fail can never
    // flip on a float rounding boundary between engines.
    Query("q_gopher_gate", (s, d) => {
      val rep = TextAnalysis.repetitionStats(docsWide(s, d))
      val pass = col("n_tokens") >= 5 &&
        lit(20) * col("top2_n") <= col("g2_tot") &&
        lit(20) * col("dup3_n") <= col("g3_tot") &&
        col("dupch_n") === 0
      rep.join(docs(s, d).select(col("doc_id"), col("source")), Seq("doc_id"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(pass, 1L).otherwise(0L)).as("n_pass"),
          sum(when(col("n_tokens") >= 5 &&
            lit(20) * col("top2_n") > col("g2_tot"), 1L).otherwise(0L))
            .as("n_fail_top2"))
        .orderBy(col("source"))
    }, Sql(
      // the admission gate: the same integer rules over repCte
      s"""WITH $repCte
         |SELECT d.source, COUNT(*) AS n_docs,
         |  CAST(SUM(CASE WHEN r.n_tokens >= 5 AND 20 * r.top2_n <= r.g2_tot
         |    AND 20 * r.dup3_n <= r.g3_tot AND r.dupch_n = 0
         |    THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
         |  CAST(SUM(CASE WHEN r.n_tokens >= 5 AND 20 * r.top2_n > r.g2_tot
         |    THEN 1 ELSE 0 END) AS BIGINT) AS n_fail_top2
         |FROM rep r JOIN documents d USING (doc_id)
         |GROUP BY d.source ORDER BY d.source""".stripMargin)),

    // MinHash band buckets, VALUE-ORACLED (r11 worklist #6 — the
    // lloydOracle move applied to banding): the exact (doc, band,
    // bucket) relation minhashCandidates joins on, witnessed end-to-end
    // by a DuckDB twin of the permutation-hash arithmetic itself —
    // fnv64 over shingle bytes, the splitmix avalanche per hash
    // function (signed-long minima, the Spark comparison order), and
    // the per-band FNV fold — re-expressed as mod-2^64 HUGEINT
    // arithmetic (wrapping multiply via 32-bit split, logical shifts as
    // floor division of the unsigned residue). Pure integer end-to-end:
    // no float seam exists, so the match is exact or the arithmetic is
    // wrong. This de-exempts the banding math that q_dedup_minhash's
    // rows-only check could not value-witness. (Byte contract: the
    // oracle reads codepoints as bytes, valid because the fixture is
    // ASCII — asserted in TextSpec; the engine itself hashes UTF-8
    // bytes for any input.)
    Query("q_minhash_sigs", (s, d) =>
      Dedup.minhashBuckets(docs(s, d), nShingle = 3, bands = 8, rowsPerBand = 4)
        .select(col("id").as("doc_id"), col("band").cast("long").as("band"),
          col("bucket"))
        .orderBy(col("doc_id"), col("band")),
      Sql(
      // the real banding's (doc, band, bucket) relation — see [[minhashCte]]
      s"""WITH $minhashCte
         |SELECT doc_id, band, bucket
         |FROM mh_buckets ORDER BY doc_id, band""".stripMargin)),

    // corpus-wide top-20 trigram shingles (explode → count → top-k with
    // full tiebreak): the n-gram frequency table a tokenizer/contamination
    // audit starts from. One shuffle (ngram) + TakeOrdered.
    Query("q_top_ngrams", (s, d) => {
      docs(s, d)
        .select(explode(Dedup.shingles(col("text"), 3)).as("ngram"))
        .groupBy(col("ngram"))
        .agg(count(lit(1)).as("n_docs"))
        .orderBy(col("n_docs").desc, col("ngram"))
        .limit(20)
    }, Sql(
      s"""WITH t AS (SELECT doc_id, $duckToks AS tk FROM documents),
         |sh AS (
         |  SELECT doc_id, UNNEST(list_distinct(
         |    ${shingleListSql("tk", 3)})) AS ngram
         |  FROM t
         |)
         |SELECT ngram, COUNT(*) AS n_docs FROM sh GROUP BY ngram
         |ORDER BY n_docs DESC, ngram LIMIT 20""".stripMargin), headline = false),

    // PMI collocations (the corpus phrase-mining primitive: which
    // adjacent word pairs co-occur far above chance?): positional
    // bigrams off one tokenize barrier, marginals from the PAIR table
    // (left marginal of x, right marginal of y — the q_walk_skipgrams
    // convention), min-count 5, PMI = ln(c_xy·N/(c_x·c_y)). All counts
    // exact integers; ONE ln per surviving pair; top-20 ordered on the
    // ROUNDED score + the pair so the cutoff is cross-engine
    // deterministic. One (x,y) count shuffle + two marginal reshuffles
    // of the already-aggregated pair table — never a second corpus scan.
    Query("q_pmi_bigrams", (s, d) => {
      val tk = docs(s, d)
        .select(col("doc_id"), Dedup.tokens(col("text")).as("tk"))
        .groupBy(col("doc_id")).agg(first(col("tk")).as("tk")) // HOF barrier
        .filter(size(col("tk")) >= 2)
      val bg = tk.select(explode(transform(
          sequence(lit(0), size(col("tk")) - 2),
          i => struct(get(col("tk"), i).as("x"),
            get(col("tk"), i + 1).as("y")))).as("b"))
        .select(col("b.x").as("x"), col("b.y").as("y"))
      val pc = bg.groupBy(col("x"), col("y")).agg(count(lit(1)).as("n_xy"))
      val xm = pc.groupBy(col("x")).agg(sum(col("n_xy")).as("n_x"))
      val ym = pc.groupBy(col("y")).agg(sum(col("n_xy")).as("n_y"))
      val tot = pc.agg(sum(col("n_xy")).as("n_tot"))
      pc.filter(col("n_xy") >= 5)
        .join(xm, Seq("x")).join(ym, Seq("y"))
        .crossJoin(broadcast(tot))
        .select(col("x"), col("y"), col("n_xy"),
          round(log(col("n_xy").cast("double") * col("n_tot").cast("double") /
            (col("n_x").cast("double") * col("n_y").cast("double"))), 6)
            .as("pmi_r"))
        .orderBy(col("pmi_r").desc, col("x"), col("y"))
        .limit(20)
    }, Sql(
      // positional bigrams via the struct-comprehension (0-based i pairs
      // tk[i],tk[i+1]); marginals and total from the pair table
      s"""WITH t AS (SELECT doc_id, $duckToks AS tk FROM documents),
         |bg AS (
         |  SELECT s.x, s.y FROM (
         |    SELECT UNNEST([{'x': tk[i], 'y': tk[i+1]}
         |      FOR i IN range(1, len(tk))]) AS s
         |    FROM t WHERE len(tk) >= 2)),
         |pc AS MATERIALIZED (
         |  SELECT x, y, COUNT(*) AS n_xy FROM bg GROUP BY 1, 2),
         |xm AS (SELECT x, CAST(SUM(n_xy) AS BIGINT) AS n_x
         |       FROM pc GROUP BY 1),
         |ym AS (SELECT y, CAST(SUM(n_xy) AS BIGINT) AS n_y
         |       FROM pc GROUP BY 1),
         |tt AS (SELECT CAST(SUM(n_xy) AS BIGINT) AS n_tot FROM pc)
         |SELECT p.x, p.y, p.n_xy,
         |  ROUND(ln(CAST(p.n_xy AS DOUBLE) * CAST(t.n_tot AS DOUBLE) /
         |    (CAST(x.n_x AS DOUBLE) * CAST(y.n_y AS DOUBLE))), 6) AS pmi_r
         |FROM pc p JOIN xm x USING (x) JOIN ym y USING (y), tt t
         |WHERE p.n_xy >= 5
         |ORDER BY pmi_r DESC, p.x, p.y LIMIT 20""".stripMargin)),

    // PII/noise scrubbing over the events props strings (the only text in
    // the testdata with digit runs): emails/URLs/numbers → placeholders.
    Query("q_text_scrub", (s, d) => {
      Tables.events(s, d)
        .select(col("event_id"),
          TextAnalysis.scrub(col("props")).as("scrubbed"),
          size(regexp_extract_all(col("props"), lit("\\d+"), lit(0)))
            .cast("long").as("n_nums"))
        .orderBy(col("event_id"))
    }, Sql(
      """SELECT event_id,
        |  regexp_replace(regexp_replace(regexp_replace(props,
        |    '[\w.+-]+@[\w-]+\.[\w.]+', '<EMAIL>', 'g'),
        |    'https?://\S+', '<URL>', 'g'),
        |    '\d+', '<NUM>', 'g') AS scrubbed,
        |  CAST(len(regexp_extract_all(props, '\d+')) AS BIGINT) AS n_nums
        |FROM events ORDER BY event_id""".stripMargin), headline = false),

    // composed curation pipeline: exact-dedup winners ⋂ quality ≥ 0.5 ⋂
    // language 'en' → per-source corpus stats. The shape every training-
    // data cleaning job has; all stages are the operators verified above,
    // so the whole composition is DuckDB-oracled end-to-end.
    Query("q_corpus_clean", (s, d) => {
      val base = docs(s, d)
      val keep = Dedup.exactDedup(base).select(col("keep_id").as("doc_id"))
      base.join(keep, Seq("doc_id"))
        .filter(TextAnalysis.heuristicGate(col("text"), 0.5))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("n_chars_total"))
        .orderBy(col("source"))
    }, Sql(
      s"""WITH keepers AS (
         |  SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY md5(text)
         |),
         |t AS (
         |  SELECT d.doc_id, d.source, d.n_chars, d.text, $duckToks AS toks,
         |    CAST(length(d.text) AS DOUBLE) AS nchar
         |  FROM documents d JOIN keepers k ON d.doc_id = k.doc_id
         |),
         |scored AS (
         |  SELECT *,
         |    ROUND(
         |      LEAST(len(toks) / 20.0, 1.0) * 0.4 +
         |      LEAST((CASE WHEN len(toks) = 0 THEN 0.0 ELSE
         |        CAST(len(list_filter(toks, x -> list_contains(['the','a','an','and','or','of','to','in','is','it','that','for','on','with','as','at','by','be','this'], x))) AS DOUBLE) / len(toks) END) * 4.0, 1.0) * 0.3 +
         |      GREATEST(1.0 - (CASE WHEN nchar = 0 THEN 0.0 ELSE
         |        len(regexp_extract_all(text, '[[:punct:]]')) / nchar END) * 5.0, 0.0) * 0.3,
         |    6) AS quality,
         |    CAST(len(list_filter(toks, x -> list_contains(['der','die','und','das','nicht','ist','von','mit','den','im'], x))) AS BIGINT) AS hits_de,
         |    CAST(len(list_filter(toks, x -> list_contains(['the','and','of','to','is','in','that','it','for','with'], x))) AS BIGINT) AS hits_en,
         |    CAST(len(list_filter(toks, x -> list_contains(['el','la','de','que','y','en','los','del','las','por'], x))) AS BIGINT) AS hits_es,
         |    CAST(len(list_filter(toks, x -> list_contains(['le','la','et','les','des','est','dans','que','pour','une'], x))) AS BIGINT) AS hits_fr
         |  FROM t
         |),
         |lang AS (
         |  SELECT *,
         |    CASE WHEN GREATEST(hits_de, hits_en, hits_es, hits_fr) = 0 THEN 'und'
         |         WHEN hits_de = GREATEST(hits_de, hits_en, hits_es, hits_fr) THEN 'de'
         |         WHEN hits_en = GREATEST(hits_de, hits_en, hits_es, hits_fr) THEN 'en'
         |         WHEN hits_es = GREATEST(hits_de, hits_en, hits_es, hits_fr) THEN 'es'
         |         ELSE 'fr' END AS lang_guess
         |  FROM scored
         |)
         |SELECT source, COUNT(*) AS n_docs,
         |  CAST(SUM(n_chars) AS BIGINT) AS n_chars_total
         |FROM lang WHERE quality >= 0.5 AND lang_guess = 'en'
         |GROUP BY source ORDER BY source""".stripMargin)),

    // weighted source mixing (Mix.weighted): sources src0–src4 at 2.5
    // epochs, the rest at 1.0 — replicate + deterministic hash-sample, no
    // rand(); per-epoch corpus stats oracled exactly.
    Query("q_data_mix", (s, d) => {
      val base = docs(s, d)
      val a = base.filter(col("source") < "src5")
      val b = base.filter(col("source") >= "src5")
      graft.operators.Mix.weightedMix(Seq((a, 2.5), (b, 1.0)), Seq(col("doc_id")))
        .groupBy(col("epoch"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("n_chars_total"))
        .orderBy(col("epoch"))
    }, Sql(
      """WITH a AS (SELECT doc_id, n_chars FROM documents WHERE source < 'src5'),
        |b AS (SELECT doc_id, n_chars FROM documents WHERE source >= 'src5'),
        |mixed AS (
        |  SELECT t.epoch, a.doc_id, a.n_chars FROM a, UNNEST([0, 1]) AS t(epoch)
        |  UNION ALL
        |  SELECT 2 AS epoch, doc_id, n_chars FROM a
        |  WHERE (doc_id * 2654435761) % 10000 < 5000
        |  UNION ALL
        |  SELECT 0 AS epoch, doc_id, n_chars FROM b
        |)
        |SELECT CAST(epoch AS INT) AS epoch, COUNT(*) AS n_docs,
        |  CAST(SUM(n_chars) AS BIGINT) AS n_chars_total
        |FROM mixed GROUP BY epoch ORDER BY epoch""".stripMargin)),

    // temperature-scaled mixing weights (Mix.temperatureWeights): the
    // multilingual w_s ∝ n_s^α rule at α=0.5 over per-source char
    // masses, with floor(w_r·budget) targets computed in DECIMAL so the
    // cut is exact cross-engine. One group aggregate + a 1-row
    // broadcast normalizer — the corpus never reshuffles. Fully
    // ORACLED (POWER/SUM/ROUND are ANSI; w_r pinned at 6dp).
    Query("q_mix_temperature", (s, d) => {
      graft.operators.Mix.temperatureWeights(docs(s, d), col("source"),
        alpha = 0.5, budget = 100000L, sizeCol = col("n_chars"))
        .withColumnRenamed("group", "source")
        .orderBy(col("source"))
    }, Sql(
      """WITH g AS (
        |  SELECT source, CAST(SUM(n_chars) AS BIGINT) AS n,
        |    POWER(CAST(SUM(n_chars) AS DOUBLE), 0.5) AS w
        |  FROM documents GROUP BY source
        |), t AS (SELECT SUM(w) AS tw FROM g)
        |SELECT source, n, ROUND(w / tw, 6) AS w_r,
        |  CAST(FLOOR(CAST(ROUND(w / tw, 6) AS DECIMAL(18,6)) * 100000)
        |    AS BIGINT) AS target
        |FROM g, t ORDER BY source""".stripMargin)),

    // exact integer apportionment of a mixing budget (Hamilton /
    // largest-remainder): per-source allocations that sum to EXACTLY
    // the budget, from all-integer quota arithmetic — the piece
    // q_mix_temperature's floor targets leave on the table. Bounded
    // |sources| relation end to end; fully ORACLED.
    Query("q_mix_apportion", (s, d) => {
      graft.operators.Mix.apportionLargestRemainder(
          docs(s, d), col("source"), budget = 10007L)
        .withColumnRenamed("group", "source")
        .withColumnRenamed("n", "n_docs")
        .orderBy(col("source"))
    }, Sql(
      // all-integer Hamilton apportionment — exactly portable
      """WITH c AS (SELECT source, COUNT(*) AS n FROM documents GROUP BY 1),
        |t AS (SELECT SUM(n) AS grand_n FROM c),
        |b AS (
        |  SELECT source, n, (n * 10007) // grand_n AS floor_alloc,
        |    (n * 10007) % grand_n AS rem
        |  FROM c, t
        |), a AS (SELECT SUM(floor_alloc) AS allocated FROM b),
        |r AS (
        |  SELECT b.*, ROW_NUMBER() OVER (ORDER BY rem DESC, source) AS rk
        |  FROM b
        |)
        |SELECT source, CAST(n AS BIGINT) AS n_docs,
        |  CAST(floor_alloc +
        |    CASE WHEN rk <= 10007 - allocated THEN 1 ELSE 0 END AS BIGINT)
        |    AS alloc
        |FROM r, a ORDER BY source""".stripMargin)),

    // the MATERIALIZATION of a computed mix: temperature targets
    // (α=0.5 over per-source doc counts, 200-doc budget) feed
    // Split.budgetedSample, which cuts each source at its OWN target by
    // the deterministic md5-of-serialized-key order — weights → actual
    // selected corpus, end to end, fully ORACLED.
    Query("q_mix_select", (s, d) => {
      val targets = graft.operators.Mix.temperatureWeights(docs(s, d),
        col("source"), alpha = 0.5, budget = 200L)
        .select(col("group").as("source"), col("target"))
      Split.budgetedSample(docs(s, d).select(col("doc_id"), col("source")),
        targets, col("source"), Seq(col("doc_id")))
        .orderBy(col("doc_id"))
    }, Sql(
      s"""$mixTargetCtes, k AS (
        |  SELECT doc_id, source,
        |    CAST(length(CAST(doc_id AS VARCHAR)) AS VARCHAR)
        |      || ':' || CAST(doc_id AS VARCHAR) AS ks
        |  FROM documents
        |), r AS (
        |  SELECT doc_id, source,
        |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY md5(ks), ks) AS rn
        |  FROM k
        |)
        |SELECT r.doc_id, r.source FROM r JOIN tg ON r.source = tg.source
        |WHERE r.rn <= tg.target ORDER BY doc_id""".stripMargin)),

    // ARRIVAL-ORDER budgeted admission (Mix.admitByBudget) — the batch
    // twin of the streaming per-source gate
    // (EventStreams.budgetedMixIntake), driver-witnessed: each source
    // admits its FIRST target docs in ingest (doc_id) order, unlike
    // q_mix_select's content-hash sample. Same one-shuffle +
    // broadcast-targets plan; fully ORACLED (row_number over a total
    // order is ANSI).
    Query("q_mix_admit", (s, d) => {
      val targets = graft.operators.Mix.temperatureWeights(docs(s, d),
        col("source"), alpha = 0.5, budget = 200L)
        .select(col("group").as("source"), col("target"))
      graft.operators.Mix.admitByBudget(
        docs(s, d).select(col("doc_id"), col("source")),
        targets, col("source"), Seq(col("doc_id")))
        .orderBy(col("doc_id"))
    }, Sql(
      s"""$mixTargetCtes, r AS (
        |  SELECT doc_id, source,
        |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id) AS rn
        |  FROM documents
        |)
        |SELECT r.doc_id, r.source FROM r JOIN tg ON r.source = tg.source
        |WHERE r.rn <= tg.target ORDER BY doc_id""".stripMargin)),

    // snapshot diff: classify every doc as added/removed/changed/
    // unchanged between two corpus versions (old = the corpus minus one
    // residue class, new = minus another, with a third class's text
    // edited) — the dataset-version report every curation run publishes
    // alongside a release. One ids+fingerprints full-outer join
    // (DataQuality.snapshotDiff); the wide text column never ships.
    Query("q_snapshot_diff", (s, d) => {
      val base = docs(s, d)
      val old = base.filter(pmod(col("doc_id"), lit(20)) =!= 0)
      val nw = base.filter(pmod(col("doc_id"), lit(20)) =!= 1)
        .withColumn("text",
          when(pmod(col("doc_id"), lit(20)) === 2,
            concat(col("text"), lit(" rev2"))).otherwise(col("text")))
      graft.operators.DataQuality
        .snapshotDiff(old, nw, "doc_id", md5(col("text")))
        .groupBy(col("status")).agg(count(lit(1)).as("n_docs"))
        .orderBy(col("status"))
    }, Sql(
      """WITH old AS (
        |  SELECT doc_id, md5(text) AS fp FROM documents WHERE doc_id % 20 <> 0
        |), nw AS (
        |  SELECT doc_id,
        |    md5(CASE WHEN doc_id % 20 = 2 THEN text || ' rev2' ELSE text END) AS fp
        |  FROM documents WHERE doc_id % 20 <> 1
        |), d AS (
        |  SELECT CASE WHEN old.fp IS NULL THEN 'added'
        |              WHEN nw.fp IS NULL THEN 'removed'
        |              WHEN old.fp = nw.fp THEN 'unchanged'
        |              ELSE 'changed' END AS status
        |  FROM old FULL OUTER JOIN nw ON old.doc_id = nw.doc_id
        |)
        |SELECT status, COUNT(*) AS n_docs FROM d
        |GROUP BY status ORDER BY status""".stripMargin)),

    // quality curriculum: rank the corpus by the rounded quality score
    // (ties by doc_id — a total order, so phase assignment is exact
    // cross-engine) and cut it into 4 equal phases, reporting per-phase
    // volume and quality band. The ordering plan every curriculum-
    // trained run needs before it writes phase manifests. NOT a
    // partitionless ntile window (single-partition at scale):
    // Rank.exactNtile = range-partitioned global sort + per-partition
    // offsets + ntile arithmetic from the broadcast total — same answer,
    // no corpus-through-one-task stage (asserted in ScalePostureSpec).
    Query("q_curriculum", (s, d) => {
      val scored = docs(s, d).select(col("doc_id"), col("n_chars"),
        round(graft.operators.TextAnalysis.qualityScore(col("text")), 6).as("q"))
      graft.operators.Rank
        .exactNtile(scored, 4, "phase", col("q").desc, col("doc_id"))
        .groupBy(col("phase"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("n_chars_total"),
          round(min(col("q")), 6).as("q_min"),
          round(max(col("q")), 6).as("q_max"))
        .orderBy(col("phase"))
    }, Sql(
      s"""WITH t AS (
         |  SELECT doc_id, n_chars, text, $duckToks AS toks,
         |    CAST(length(text) AS DOUBLE) AS nchar
         |  FROM documents
         |), s AS (
         |  SELECT doc_id, n_chars, $duckQuality AS q FROM t
         |), r AS (
         |  SELECT n_chars, q,
         |    CAST(ntile(4) OVER (ORDER BY q DESC, doc_id) AS BIGINT) AS phase
         |  FROM s
         |)
         |SELECT phase, COUNT(*) AS n_docs,
         |  CAST(SUM(n_chars) AS BIGINT) AS n_chars_total,
         |  ROUND(MIN(q), 6) AS q_min, ROUND(MAX(q), 6) AS q_max
         |FROM r GROUP BY phase ORDER BY phase""".stripMargin)),

    // cross-source duplication: per source, how many docs have a content
    // twin anywhere in the corpus, and how many have a twin in a
    // DIFFERENT source — the provenance-leakage number that decides
    // whether per-source mix weights are even meaningful (a source whose
    // docs all also live elsewhere contributes nothing unique). One
    // fingerprint shuffle for the per-fp stats, rejoined on the same key
    // (exchange-reusable); ids+fps only, never the text.
    Query("q_cross_source_dups", (s, d) =>
      graft.operators.DataQuality.crossSourceDups(docs(s, d), col("source"),
        md5(concat_ws(" ", Dedup.tokens(col("text")))))
        .orderBy(col("source")),
      Sql(
      s"""WITH fps AS (
         |  SELECT source, md5(array_to_string($duckToks, ' ')) AS fp
         |  FROM documents
         |), stats AS (
         |  SELECT fp, COUNT(*) AS n_fp, COUNT(DISTINCT source) AS n_src
         |  FROM fps GROUP BY fp
         |)
         |SELECT f.source, COUNT(*) AS n_docs,
         |  CAST(SUM(CASE WHEN s.n_fp > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
         |  CAST(SUM(CASE WHEN s.n_src > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_cross_src
         |FROM fps f JOIN stats s USING (fp)
         |GROUP BY f.source ORDER BY f.source""".stripMargin)),

    // per-source data card: the one-row-per-source corpus report a
    // curation run publishes with every snapshot — volume (docs, tokens,
    // chars), mean heuristic quality, English fraction, exact-dup rate
    // (1 − distinct fingerprints / docs), and the median token count.
    // ONE pass over the corpus (map-side metric columns, nothing wide
    // survives the projection) into one |sources|-bounded group-by; at
    // 100 TB this is a single shuffle of a few doubles per doc.
    Query("q_data_card", (s, d) => {
      val base = docs(s, d).select(
        col("source"),
        TextAnalysis.tokenCountWs(col("text")).as("n_toks"),
        length(col("text")).cast("long").as("nchar"),
        TextAnalysis.qualityScore(col("text")).as("q"),
        when(TextAnalysis.langId(col("text")) === "en", 1L).otherwise(0L)
          .as("is_en"),
        md5(col("text")).as("fp"))
      base.groupBy(col("source")).agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_toks")).as("total_tokens"),
        sum(col("nchar")).as("total_chars"),
        round(avg(col("q")), 6).as("mean_quality"),
        ratio6(sum(col("is_en")), count(lit(1))).as("en_frac"),
        ratio6(count(lit(1)) - countDistinct(col("fp")), count(lit(1)))
          .as("dup_rate"),
        round(expr("percentile(n_toks, 0.5)"), 6).as("p50_tokens"))
        .orderBy(col("source"))
    }, Sql(
      s"""WITH t AS (
         |  SELECT source, text, $duckToks AS toks,
         |    CAST(length(text) AS DOUBLE) AS nchar
         |  FROM documents
         |), m AS (
         |  SELECT source,
         |    CAST(len(toks) AS BIGINT) AS n_toks,
         |    CAST(nchar AS BIGINT) AS nchar_b,
         |    $duckQuality AS q,
         |    CAST(len(list_filter(toks, x -> list_contains(['the','and','of','to','is','in','that','it','for','with'], x))) AS BIGINT) AS hits_en,
         |    CAST(len(list_filter(toks, x -> list_contains(['der','die','und','das','nicht','ist','von','mit','den','im'], x))) AS BIGINT) AS hits_de,
         |    CAST(len(list_filter(toks, x -> list_contains(['el','la','de','que','y','en','los','del','las','por'], x))) AS BIGINT) AS hits_es,
         |    CAST(len(list_filter(toks, x -> list_contains(['le','la','et','les','des','est','dans','que','pour','une'], x))) AS BIGINT) AS hits_fr,
         |    md5(text) AS fp
         |  FROM t
         |)
         |SELECT source,
         |  COUNT(*) AS n_docs,
         |  CAST(SUM(n_toks) AS BIGINT) AS total_tokens,
         |  CAST(SUM(nchar_b) AS BIGINT) AS total_chars,
         |  ROUND(AVG(q), 6) AS mean_quality,
         |  ${ratio6Sql(
             "SUM(CASE WHEN hits_en >= 1 AND hits_en > hits_de " +
               "AND hits_en >= hits_es AND hits_en >= hits_fr " +
               "THEN 1 ELSE 0 END)",
             "COUNT(*)")} AS en_frac,
         |  ${ratio6Sql("COUNT(*) - COUNT(DISTINCT fp)", "COUNT(*)")} AS dup_rate,
         |  ROUND(CAST(quantile_cont(n_toks, 0.5) AS DOUBLE), 6) AS p50_tokens
         |FROM m GROUP BY source ORDER BY source""".stripMargin), headline = false),

    // per-source distribution drift: Jensen-Shannon divergence (nats)
    // between each source's token-count histogram and the corpus-wide
    // one — the mix-health number that says WHICH source's length
    // profile is skewing the blend (0 = indistinguishable from the
    // corpus). Histogram buckets are integer arithmetic (width 8,
    // capped at 20) so the binning is exact cross-engine; the JSD sums
    // run over the bounded (|sources| × ≤21) expansion of two tiny
    // aggregates — the corpus itself is touched once for the counts.
    Query("q_source_drift", (s, d) => {
      val toks = docs(s, d).select(
        col("source"),
        least(floor(TextAnalysis.tokenCountWs(col("text")) / 8), lit(20L))
          .cast("long").as("bucket"))
      val srcTotals = toks.groupBy(col("source"))
        .agg(count(lit(1)).as("n_src"))
      val srcBuckets = toks.groupBy(col("source"), col("bucket"))
        .agg(count(lit(1)).as("c_sb"))
      val corpusBuckets = toks.groupBy(col("bucket"))
        .agg(count(lit(1)).as("c_b"))
      val total = toks.agg(count(lit(1)).as("n_all"))
      // bounded expansion: |sources| × ≤21 corpus buckets × 1-row total
      val grid = srcTotals.crossJoin(broadcast(corpusBuckets))
        .crossJoin(broadcast(total))
        .join(srcBuckets, Seq("source", "bucket"), "left")
        .na.fill(0L, Seq("c_sb"))
      val p = col("c_sb") / col("n_src")
      val q = col("c_b") / col("n_all")
      val m = (p + q) / 2
      val term =
        when(col("c_sb") > 0, p * log(p / m)).otherwise(lit(0.0)) * 0.5 +
          q * log(q / m) * 0.5
      grid.groupBy(col("source"))
        .agg(max(col("n_src")).as("n_docs"),
          round(sum(term), 6).as("jsd_nats"))
        .orderBy(col("source"))
    }, Sql(
      s"""WITH t AS (
         |  SELECT source,
         |    LEAST(CAST(FLOOR(CAST(len($duckToks) AS BIGINT) / 8.0) AS BIGINT), 20) AS bucket
         |  FROM documents
         |), st AS (SELECT source, COUNT(*) AS n_src FROM t GROUP BY source),
         |sb AS (SELECT source, bucket, COUNT(*) AS c_sb FROM t GROUP BY source, bucket),
         |cb AS (SELECT bucket, COUNT(*) AS c_b FROM t GROUP BY bucket),
         |tot AS (SELECT COUNT(*) AS n_all FROM t),
         |grid AS (
         |  SELECT st.source, st.n_src, cb.bucket, cb.c_b, tot.n_all,
         |    COALESCE(sb.c_sb, 0) AS c_sb
         |  FROM st CROSS JOIN cb CROSS JOIN tot
         |  LEFT JOIN sb ON sb.source = st.source AND sb.bucket = cb.bucket
         |), terms AS (
         |  SELECT source, n_src,
         |    c_sb / CAST(n_src AS DOUBLE) AS p,
         |    c_b / CAST(n_all AS DOUBLE) AS q,
         |    c_sb
         |  FROM grid
         |)
         |SELECT source, MAX(n_src) AS n_docs,
         |  ROUND(SUM(
         |    (CASE WHEN c_sb > 0 THEN p * ln(p / ((p + q) / 2)) ELSE 0.0 END) * 0.5
         |    + q * ln(q / ((p + q) / 2)) * 0.5), 6) AS jsd_nats
         |FROM terms GROUP BY source ORDER BY source""".stripMargin), headline = false),

    // planted-batch twin of the streaming drift alarm (EventStreams.
    // driftAlarmIntake), run through the REAL alarm building blocks:
    // the reference histogram is fitLenHistogram over the trusted split
    // (doc_id%4 != 0 — Laplace-smoothed, the persisted-artifact math)
    // and each probe batch's (n_docs, jsd, alarm) row is jsdVsRef driver
    // math over one bounded ≤21-cell aggregate, exactly what the intake
    // computes per micro-batch. Planted batches: batch 0 (doc_id%8 == 4)
    // is an in-profile sample (jsd 0.004-0.05 across fixture scales);
    // batch 1 (doc_id%8 == 0 AND n_chars >= 400) is a long-docs-only
    // supplier switch (jsd ~0.34) — tau = 0.15 sits mid-gap at every
    // scale, so the alarm row is far from the threshold seam. alarm
    // serialized as BIGINT 0/1 (sortability contract — no cross-engine
    // bool hashing); jsd_r via the Spark round() convention all oracled
    // floats use. Batch ≡ stream asserted in StreamingSpec against
    // driftAlarmIntake over the same planted batches.
    Query("q_drift_alarm", (s, d) => {
      val all = docs(s, d)
      val ref = TextAnalysis.fitLenHistogram(
        all.filter(pmod(col("doc_id"), lit(4)) =!= 0))
      val batches = Seq(
        0L -> all.filter(pmod(col("doc_id"), lit(8)) === 4),
        1L -> all.filter(pmod(col("doc_id"), lit(8)) === 0 &&
          col("n_chars") >= 400))
      val rows = batches.map { case (bid, b) =>
        val counts = TextAnalysis.lenBucketCounts(b)
        val jsd = TextAnalysis.jsdVsRef(counts, ref)
        (bid, counts.values.sum, jsd, if (jsd > 0.15) 1L else 0L)
      }
      import s.implicits._
      rows.toDF("batch_id", "n_docs", "jsd", "alarm")
        .select(col("batch_id"), col("n_docs"),
          round(col("jsd"), 6).as("jsd_r"), col("alarm"))
        .orderBy(col("batch_id"))
    }, Sql(
      // mirrors q_drift_alarm's driver math: Laplace-smoothed 21-cell
      // reference over the trusted split, per-planted-batch JSD, alarm at
      // tau = 0.15 (mid-gap at every fixture scale — see the query's
      // calibration comment)
      s"""WITH t AS (
         |  SELECT doc_id, n_chars,
         |    LEAST(CAST(FLOOR(CAST(len($duckToks) AS BIGINT) / 8.0) AS BIGINT), 20) AS bucket
         |  FROM documents
         |), ref AS (
         |  SELECT bucket, COUNT(*) AS c FROM t WHERE doc_id % 4 <> 0 GROUP BY bucket
         |), cells AS (SELECT unnest(range(21)) AS bucket),
         |rq AS (
         |  SELECT cells.bucket, (COALESCE(ref.c, 0) + 1.0) AS rc
         |  FROM cells LEFT JOIN ref USING (bucket)
         |), rz AS (SELECT SUM(rc) AS z FROM rq),
         |b AS (
         |  SELECT CASE WHEN doc_id % 8 = 4 THEN 0 ELSE 1 END AS batch_id, bucket
         |  FROM t WHERE doc_id % 8 = 4 OR (doc_id % 8 = 0 AND n_chars >= 400)
         |), bc AS (SELECT batch_id, bucket, COUNT(*) AS c FROM b GROUP BY 1, 2),
         |bn AS (SELECT batch_id, COUNT(*) AS n FROM b GROUP BY 1),
         |grid AS (
         |  SELECT bn.batch_id, bn.n, rq.bucket, rq.rc / rz.z AS q,
         |    COALESCE(bc.c, 0) / CAST(bn.n AS DOUBLE) AS p
         |  FROM bn CROSS JOIN rq CROSS JOIN rz
         |  LEFT JOIN bc ON bc.batch_id = bn.batch_id AND bc.bucket = rq.bucket
         |), j AS (
         |  SELECT batch_id, MAX(n) AS n_docs,
         |    SUM((CASE WHEN p > 0 THEN p * ln(p / ((p + q) / 2)) ELSE 0.0 END) * 0.5
         |      + q * ln(q / ((p + q) / 2)) * 0.5) AS jsd
         |  FROM grid GROUP BY batch_id
         |)
         |SELECT CAST(batch_id AS BIGINT) AS batch_id, n_docs,
         |  ROUND(jsd, 6) AS jsd_r,
         |  CAST(CASE WHEN jsd > 0.15 THEN 1 ELSE 0 END AS BIGINT) AS alarm
         |FROM j ORDER BY batch_id""".stripMargin)),

    // token-budget shard packing (Mix.packByTokenBudget with arithmetic
    // hashes so the manifest reproduces in ANSI SQL): ~5000 chars per
    // shard across 8 salted streams; per-shard stats oracled exactly.
    Query("q_pack_tokens", (s, d) => {
      graft.operators.Mix.packByTokenBudget(
        docs(s, d), "doc_id", "n_chars", budget = 5000L, nWorkers = 8,
        workerCol = pmod(col("doc_id") * 2654435761L, lit(8L)),
        ordCol = pmod(col("doc_id") * 40503L, lit(1000003L)))
        .groupBy(col("shard"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("n_chars_total"))
        .orderBy(col("shard"))
    }, Sql(
      """WITH t AS (
        |  SELECT doc_id, n_chars,
        |    (doc_id * 2654435761) % 8 AS wk,
        |    (doc_id * 40503) % 1000003 AS ord
        |  FROM documents
        |),
        |c AS (
        |  SELECT *, SUM(n_chars) OVER (PARTITION BY wk ORDER BY ord, doc_id
        |    ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM t
        |)
        |SELECT wk * 4294967296 + CAST(FLOOR((cum - n_chars) / 5000.0) AS BIGINT) AS shard,
        |  COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS n_chars_total
        |FROM c GROUP BY 1 ORDER BY shard""".stripMargin)),

    // bucketPairs hot-bucket cap on a SQL-expressible synthetic bucketing
    // (band/bucket from arithmetic on orders keys, cap 8): DuckDB mirrors
    // the row_number pre-filter + in-bucket pair expansion + overflow
    // star-attach exactly, so the cap semantics — expand only the 8
    // smallest ids quadratically, pair every overflow id with the bucket
    // min — are value-oracled, not just bounded-by-assertion.
    Query("q_bucket_pairs_capped", (s, d) => {
      val b = Tables.orders(s, d).filter(col("o_orderkey") < 2000)
        .select(pmod(col("o_custkey"), lit(3)).as("band"),
          pmod(col("o_custkey"), lit(20)).as("bucket"),
          col("o_orderkey").as("id"))
      Dedup.bucketPairs(b, maxBucket = 8)
        .orderBy(col("id_a"), col("id_b"))
    }, Sql(
      """WITH b AS (
        |  SELECT o_custkey % 3 AS band, o_custkey % 20 AS bucket,
        |         o_orderkey AS id
        |  FROM orders WHERE o_orderkey < 2000
        |), r AS (
        |  SELECT band, bucket, id,
        |    ROW_NUMBER() OVER (PARTITION BY band, bucket ORDER BY id) AS rn,
        |    MIN(id) OVER (PARTITION BY band, bucket) AS mn
        |  FROM b
        |), k AS (SELECT band, bucket, id FROM r WHERE rn <= 8),
        |p AS (
        |  SELECT a.id AS id_a, c.id AS id_b
        |  FROM k a JOIN k c ON a.band = c.band AND a.bucket = c.bucket
        |                    AND a.id < c.id
        |  UNION
        |  SELECT mn AS id_a, id AS id_b FROM r WHERE rn > 8
        |)
        |SELECT DISTINCT id_a, id_b FROM p ORDER BY id_a, id_b""".stripMargin), headline = false),

    // bucketStats side output (the bucketPairs "log line") on the real
    // minhash banding's SQL mirror: a synthetic lineitem bucketing with a
    // cap chosen so SOME buckets truncate — n_buckets / max_bucket /
    // n_truncated / ids_dropped all value-oracled.
    Query("q_bucket_stats", (s, d) => {
      val b = Tables.lineitem(s, d)
        .select(col("l_linenumber").as("band"),
          pmod(col("l_partkey"), lit(50)).as("bucket"),
          col("l_orderkey").as("id"))
      Dedup.bucketStats(b, maxBucket = 100)
    }, Sql(
      """WITH b AS (
        |  SELECT l_linenumber AS band, l_partkey % 50 AS bucket,
        |         l_orderkey AS id
        |  FROM lineitem
        |), per AS (
        |  SELECT band, bucket, COUNT(*) AS n FROM b GROUP BY band, bucket
        |)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_buckets,
        |  CAST(MAX(n) AS BIGINT) AS max_bucket,
        |  CAST(SUM(CASE WHEN n > 100 THEN 1 ELSE 0 END) AS BIGINT) AS n_truncated,
        |  CAST(SUM(CASE WHEN n > 100 THEN n - 100 ELSE 0 END) AS BIGINT) AS ids_dropped
        |FROM per""".stripMargin)),

    // TF-IDF top-3 terms per document (smooth idf ln((N+1)/(df+1))):
    // the classic keyword/feature extraction every corpus study starts
    // with. Shape at scale: one (doc,term) shuffle for tf, the df
    // relation reduces to vocabulary size before joining back on term,
    // the corpus count attaches as a broadcast 1-row aggregate, and the
    // per-doc top-3 is a WindowGroupLimit-bounded rank. Rank on the
    // ROUNDED score with a term tiebreak (SURVEY §7.4 determinism rule).
    Query("q_tfidf_top3", (s, d) => {
      val docs0 = docsWide(s, d)
      val tok = docs0.select(col("doc_id"), explode(Dedup.tokens(col("text"))).as("term"))
      val tf = tok.groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
      // df counts tf rows THROUGH the tf column (tf >= 1 always, so the
      // value is identical to count(*)) — counting rows directly lets
      // column pruning drop `tf` from this branch's partial aggregate,
      // which forks the (doc,term) subtree and re-tokenizes + re-shuffles
      // the whole corpus a second time (measured: 2 (doc,term) exchanges,
      // 0 reused). Keeping `tf` in the consumed schema makes both
      // branches' exchange subtrees canonically identical, so AQE plans
      // ONE corpus shuffle + a ReusedExchange (plan-asserted in
      // ScalePostureSpec).
      val dfreq = tf.groupBy(col("term"))
        .agg(count(when(col("tf") > 0, 1)).as("df"))
      val total = docs0.agg(count(lit(1)).as("n_docs"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("doc_id")).orderBy(col("score_r").desc, col("term"))
      tf.join(dfreq, Seq("term"))
        .crossJoin(broadcast(total))
        .withColumn("score_r", round(col("tf") *
          log((col("n_docs").cast("double") + 1.0) / (col("df").cast("double") + 1.0)), 6))
        .withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= 3)
        .select(col("doc_id"), col("rank"), col("term"), col("score_r"))
        .orderBy(col("doc_id"), col("rank"))
    }, Sql(
      s"""WITH t AS (SELECT doc_id, $duckToks AS tk FROM documents),
         |tok AS (SELECT doc_id, UNNEST(tk) AS term FROM t),
         |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
         |dfq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
         |n AS (SELECT COUNT(*) AS n_docs FROM documents),
         |s AS (
         |  SELECT doc_id, term,
         |    ROUND(tf * ln((n_docs + 1.0) / (df + 1.0)), 6) AS score_r
         |  FROM tf JOIN dfq USING (term), n
         |),
         |r AS (
         |  SELECT doc_id, term, score_r,
         |    ROW_NUMBER() OVER (PARTITION BY doc_id
         |                       ORDER BY score_r DESC, term) AS rank
         |  FROM s
         |)
         |SELECT doc_id, rank, term, score_r FROM r WHERE rank <= 3
         |ORDER BY doc_id, rank""".stripMargin)),

    // BM25 relevance scoring (Robertson/Lucene form) against a fixed
    // query term set — the retrieval scorer query-targeted curation
    // pipelines rank corpus documents with. Plan shape (round-9 audit:
    // the naive tf→{dl,df,qtf} derivation FORKED into four corpus
    // tokenize+shuffle subtrees under column pruning — the q_tfidf_top3
    // trap at larger fan-out): per-term tf AND doc length fold into ONE
    // groupBy(doc_id) aggregate with a FIXED-WIDTH buffer (|qTerms|+1
    // longs), so the corpus tokenizes once and map-side combine reduces
    // the shuffle to one row per doc; df/avgdl derive from that relation
    // as a 1-row broadcast grand aggregate; score is a map-only
    // projection (NO joins), cut via orderBy+limit (TakeOrdered — no
    // partitionless window). idf = ln(1 + (N-df+.5)/(df+.5)), k1=1.2,
    // b=0.75; the per-doc sum runs in sorted-term order (same as
    // bm25Score serving) and the ≤|query|-term 6dp round is orders of
    // magnitude above float noise.
    Query("q_bm25_topk", (s, d) => {
      val qTerms = bm25Terms.sorted
      val k1 = 1.2; val b = 0.75
      val docs0 = docs(s, d)
      val tok = docs0.select(col("doc_id"), explode(Dedup.tokens(col("text"))).as("term"))
      val perDoc = tok.groupBy(col("doc_id")).agg(
        count(lit(1)).as("dl"),
        qTerms.map(t => sum(when(col("term") === t, 1L).otherwise(0L)).as(s"tf_$t")): _*)
      val statCols =
        count(lit(1)).cast("double").as("n_dl") +:
          qTerms.map(t => count(when(col(s"tf_$t") > 0, 1)).cast("double").as(s"df_$t"))
      val stats = perDoc.agg(sum(col("dl")).cast("double").as("sum_dl"), statCols: _*)
      val total = docs0.agg(count(lit(1)).cast("double").as("n_docs"))
      val contrib = qTerms.map { t =>
        val tf = col(s"tf_$t").cast("double")
        val idf = log(lit(1.0) +
          (col("n_docs") - col(s"df_$t") + 0.5) / (col(s"df_$t") + 0.5))
        idf * (tf * (k1 + 1.0)) /
          (tf + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / (col("sum_dl") / col("n_dl"))))
      }.reduce(_ + _)
      perDoc
        .filter(qTerms.map(t => col(s"tf_$t")).reduce(_ + _) > 0)
        .crossJoin(broadcast(stats)).crossJoin(broadcast(total))
        .select(col("doc_id"), round(contrib, 6).as("score_r"))
        .orderBy(col("score_r").desc, col("doc_id")).limit(100)
    }, Sql(
      s"""$bm25Ctes
         |SELECT doc_id, ROUND(score, 6) AS score_r FROM sc
         |ORDER BY score_r DESC, doc_id LIMIT 100""".stripMargin)),

    // multi-query BM25 retrieval: top-3 docs for EACH of a fixed query
    // set — the batch retrieval shape (one ranked result list per
    // query) on top of the same single-shuffle perDoc relation as
    // q_bm25_topk (per-term tf over the UNION of all query vocabularies,
    // still fixed-width). Scores for all queries materialize as one
    // posexplode (map-only), and the per-query cut is a row_number
    // window over |queries| groups — WindowGroupLimit pushes the top-3
    // below the exchange (plan-asserted for this pattern in
    // ScalePostureSpec), so the shuffle carries ≤ 3·partitions rows per
    // query, never the corpus.
    Query("q_bm25_multi", (s, d) => {
      val queries = Seq(
        1L -> Seq("query", "stream"),
        2L -> Seq("vector", "hash"),
        3L -> Seq("merge", "sort", "join"))
      val k1 = 1.2; val b = 0.75
      val allTerms = queries.flatMap(_._2).distinct.sorted
      val docs0 = docs(s, d)
      val tok = docs0.select(col("doc_id"), explode(Dedup.tokens(col("text"))).as("term"))
      val perDoc = tok.groupBy(col("doc_id")).agg(
        count(lit(1)).as("dl"),
        allTerms.map(t => sum(when(col("term") === t, 1L).otherwise(0L)).as(s"tf_$t")): _*)
      val statCols =
        count(lit(1)).cast("double").as("n_dl") +:
          allTerms.map(t => count(when(col(s"tf_$t") > 0, 1)).cast("double").as(s"df_$t"))
      val stats = perDoc.agg(sum(col("dl")).cast("double").as("sum_dl"), statCols: _*)
      val total = docs0.agg(count(lit(1)).cast("double").as("n_docs"))
      def contribOf(t: String) = {
        val tf = col(s"tf_$t").cast("double")
        val idf = log(lit(1.0) +
          (col("n_docs") - col(s"df_$t") + 0.5) / (col(s"df_$t") + 0.5))
        idf * (tf * (k1 + 1.0)) /
          (tf + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / (col("sum_dl") / col("n_dl"))))
      }
      val scoreStructs = queries.map { case (qid, terms) =>
        struct(lit(qid).as("query_id"),
          round(terms.sorted.map(contribOf).reduce(_ + _), 6).as("score_r"),
          (terms.sorted.map(t => col(s"tf_$t")).reduce(_ + _) > 0).as("matched"))
      }
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("query_id")).orderBy(col("score_r").desc, col("doc_id"))
      perDoc.crossJoin(broadcast(stats)).crossJoin(broadcast(total))
        .select(col("doc_id"), explode(array(scoreStructs: _*)).as("qs"))
        .select(col("doc_id"), col("qs.query_id"), col("qs.score_r"), col("qs.matched"))
        .filter(col("matched"))
        .withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= 3)
        .select(col("query_id"), col("rank"), col("doc_id"), col("score_r"))
        .orderBy(col("query_id"), col("rank"))
    }, Sql(
      // per-(query,doc) sums over the query-term join; ranks on the
      // ROUNDED score with doc_id tiebreak, exactly like the Spark side
      s"""$bm25StatCtes,
         |q AS (SELECT * FROM (VALUES
         |  (1, 'query'), (1, 'stream'),
         |  (2, 'vector'), (2, 'hash'),
         |  (3, 'merge'), (3, 'sort'), (3, 'join')) AS q(query_id, term)),
         |dfq AS (
         |  SELECT term, COUNT(*) AS df FROM tf
         |  WHERE term IN (SELECT DISTINCT term FROM q) GROUP BY 1
         |),
         |sc AS (
         |  SELECT q.query_id, tf.doc_id,
         |    ROUND($bm25Sum, 6)
         |      AS score_r
         |  FROM q JOIN tf USING (term) JOIN dfq USING (term)
         |       JOIN dl ON tf.doc_id = dl.doc_id, st, n
         |  GROUP BY q.query_id, tf.doc_id
         |),
         |r AS (
         |  SELECT query_id, doc_id, score_r,
         |    ROW_NUMBER() OVER (PARTITION BY query_id
         |                       ORDER BY score_r DESC, doc_id) AS rank
         |  FROM sc
         |)
         |SELECT CAST(query_id AS BIGINT) AS query_id, rank, doc_id, score_r
         |FROM r WHERE rank <= 3
         |ORDER BY query_id, rank""".stripMargin)),

    // DATA-DRIVEN multi-query BM25: the query set is a TABLE derived
    // from the corpus (per source, its top-2 frequent ≥6-char terms,
    // ties → term asc), not a literal list — the retrieval surface a
    // real serving job has, where queries arrive as a relation. Scale
    // shape: the query-table fit reads a bounded 10% sample; the
    // SERVING path pays ONE full-corpus tokenize into one (doc, term)
    // tf aggregate, and the per-doc regroup folds dl AND the
    // matched-term list into one aggregate (query terms flagged by a
    // BROADCAST join before the regroup, so no corpus-corpus join ever
    // happens); df/avgdl/N are broadcast scalars and every downstream
    // join runs on the MATCHED subset only. Per-(query,doc) scores sum
    // ≤2 IEEE-commutative terms → 6dp round → rank on the rounded
    // score (the q_bm25_multi convention).
    Query("q_bm25_table", (s, d) => {
      val k1 = 1.2; val b = 0.75
      val docs0 = docs(s, d)
      // query-table FIT on a bounded sample (the repo's fit discipline —
      // BM25 stats, IVF codebooks, BPE merges all fit on bounded
      // slices): deriving the query vocab from the FULL t1 relation
      // forked the corpus tokenize three ways (the q_tfidf_top3 pruning
      // trap — the pushed-down len≥6 filter and the qterms distinct
      // each de-canonicalize the shared aggregate), so the fit reads
      // its own 10%-sampled pass and the SERVING path below keeps
      // exactly one full-corpus tokenize+shuffle (plan-asserted in
      // ScalePostureSpec)
      val wq = org.apache.spark.sql.expressions.Window
        .partitionBy(col("source")).orderBy(col("c").desc, col("term"))
      val qv = docs0.filter(pmod(col("doc_id"), lit(10)) === 0)
        .select(col("source"), explode(Dedup.tokens(col("text"))).as("term"))
        .filter(length(col("term")) >= 6)
        .groupBy(col("source"), col("term")).agg(count(lit(1)).as("c"))
        .withColumn("rn", row_number().over(wq))
        .filter(col("rn") <= 2)
        .select(col("source").as("query_id"), col("term"))
      val qterms = qv.select(col("term")).distinct()
      val t1 = docs0
        .select(col("doc_id"), explode(Dedup.tokens(col("text"))).as("term"))
        .groupBy(col("doc_id"), col("term"))
        .agg(count(lit(1)).as("tf"))
      val perDoc = t1
        .join(broadcast(qterms.withColumn("__q", lit(1))), Seq("term"), "left")
        .groupBy(col("doc_id"))
        .agg(sum(col("tf")).as("dl"),
          collect_list(when(col("__q") === 1,
            struct(col("term"), col("tf")))).as("qtf"))
      val stats = perDoc.agg(count(lit(1)).cast("double").as("n_dl"),
        sum(col("dl")).cast("double").as("sum_dl"))
      val total = docs0.agg(count(lit(1)).cast("double").as("n_docs"))
      // df from perDoc's matched-term lists (one qtf entry per
      // (doc, term) with tf ≥ 1, so the entry count per term IS df) —
      // re-joining t1 against qterms would push the broadcast join
      // below t1's aggregate and fork a second corpus tokenize
      val dfq = perDoc.select(explode(col("qtf")).as("e"))
        .select(col("e.term").as("term"))
        .groupBy(col("term")).agg(count(lit(1)).cast("double").as("df"))
      val matched = perDoc.filter(size(col("qtf")) > 0)
        .select(col("doc_id"), col("dl"), explode(col("qtf")).as("e"))
        .select(col("doc_id"), col("dl"),
          col("e.term").as("term"), col("e.tf").as("tf"))
        .join(broadcast(qv), Seq("term"))
        .join(broadcast(dfq), Seq("term"))
        .crossJoin(broadcast(stats)).crossJoin(broadcast(total))
      val tf = col("tf").cast("double")
      val contrib =
        log(lit(1.0) + (col("n_docs") - col("df") + 0.5) / (col("df") + 0.5)) *
          (tf * (k1 + 1.0)) /
          (tf + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / (col("sum_dl") / col("n_dl"))))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("query_id")).orderBy(col("score_r").desc, col("doc_id"))
      matched.groupBy(col("query_id"), col("doc_id"))
        .agg(round(sum(contrib), 6).as("score_r"))
        .withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= 3)
        .select(col("query_id"), col("rank"), col("doc_id"), col("score_r"))
        .orderBy(col("query_id"), col("rank"))
    }, Sql(
      // data-driven query table FIT on the 10% sample (doc_id % 10 = 0):
      // per source its top-2 frequent ≥6-char terms (ties → term asc),
      // then the q_bm25_multi scoring/rank shape with query_id = source
      s"""WITH t AS (SELECT doc_id, source, $duckToks AS tk FROM documents),
         |tok AS (SELECT doc_id, source, UNNEST(tk) AS term FROM t),
         |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
         |qv0 AS (
         |  SELECT source, term, COUNT(*) AS c FROM tok
         |  WHERE doc_id % 10 = 0 AND len(term) >= 6 GROUP BY 1, 2
         |),
         |qv AS (
         |  SELECT source AS query_id, term FROM (
         |    SELECT source, term,
         |      ROW_NUMBER() OVER (PARTITION BY source ORDER BY c DESC, term) AS rn
         |    FROM qv0
         |  ) WHERE rn <= 2
         |),
         |dl AS (SELECT doc_id, SUM(tf) AS dl FROM tf GROUP BY 1),
         |st AS (SELECT CAST(SUM(dl) AS DOUBLE) AS sum_dl,
         |              CAST(COUNT(*) AS DOUBLE) AS n_dl FROM dl),
         |n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs FROM documents),
         |dfq AS (
         |  SELECT term, COUNT(*) AS df FROM tf
         |  WHERE term IN (SELECT DISTINCT term FROM qv) GROUP BY 1
         |),
         |sc AS (
         |  SELECT qv.query_id, tf.doc_id,
         |    ROUND($bm25Sum, 6)
         |      AS score_r
         |  FROM qv JOIN tf USING (term) JOIN dfq USING (term)
         |       JOIN dl ON tf.doc_id = dl.doc_id, st, n
         |  GROUP BY qv.query_id, tf.doc_id
         |),
         |r AS (
         |  SELECT query_id, doc_id, score_r,
         |    ROW_NUMBER() OVER (PARTITION BY query_id
         |                       ORDER BY score_r DESC, doc_id) AS rank
         |  FROM sc
         |)
         |SELECT query_id, rank, doc_id, score_r
         |FROM r WHERE rank <= 3
         |ORDER BY query_id, rank""".stripMargin)),

    // reciprocal-rank fusion (k=60): the hybrid-retrieval combiner —
    // fuse the BM25 relevance ranking with the heuristic quality
    // ranking and keep the top 20. Both global ranks go through
    // Rank.withGlobalRank (range-sort + broadcast offsets — NO
    // single-partition window), and because rrf derives from IDENTICAL
    // integer ranks with the same operation order, the fused scores are
    // bit-equal cross-engine before the 6dp round even applies.
    Query("q_rank_fusion", (s, d) => {
      val m = bm25Model(s, d)
      val scored = docsWide(s, d).select(
        col("doc_id"),
        coalesce(round(TextAnalysis.bm25Score(m)(col("text")), 6), lit(0.0))
          .as("s_rel"),
        coalesce(round(TextAnalysis.qualityScore(col("text")), 6), lit(0.0))
          .as("s_q"))
      val (r1, _) = graft.operators.Rank.withGlobalRank(
        scored, "r_bm25", col("s_rel").desc, col("doc_id"))
      val (r2, _) = graft.operators.Rank.withGlobalRank(
        r1, "r_quality", col("s_q").desc, col("doc_id"))
      r2.withColumn("rrf_r",
          round(lit(1.0) / (col("r_bm25") + lit(60L)) +
            lit(1.0) / (col("r_quality") + lit(60L)), 6))
        .select(col("doc_id"), col("r_bm25"), col("r_quality"), col("rrf_r"))
        .orderBy(col("rrf_r").desc, col("doc_id")).limit(20)
    }, Sql(
      // rrf from identical integer ranks, same op order → bit-equal
      // doubles both engines; COALESCE(…, 0) handles null-text docs in
      // both scores
      s"""WITH t AS (
         |  SELECT doc_id, text, $duckToks AS toks,
         |    CAST(length(text) AS DOUBLE) AS nchar
         |  FROM documents
         |), $bm25ServeCtes, scored AS (
         |  SELECT t.doc_id, ROUND(COALESCE(bsc.score, 0), 6) AS s_rel,
         |    ROUND(COALESCE($duckQuality, 0), 6) AS s_q
         |  FROM t LEFT JOIN bsc USING (doc_id)
         |), ranked AS (
         |  SELECT doc_id,
         |    ROW_NUMBER() OVER (ORDER BY s_rel DESC, doc_id) AS r_bm25,
         |    ROW_NUMBER() OVER (ORDER BY s_q DESC, doc_id) AS r_quality
         |  FROM scored
         |)
         |SELECT doc_id, r_bm25, r_quality,
         |  ROUND(1.0 / (r_bm25 + 60) + 1.0 / (r_quality + 60), 6) AS rrf_r
         |FROM ranked ORDER BY rrf_r DESC, doc_id LIMIT 20""".stripMargin)),

    // BM25 SERVING-path twin: every doc scored by the stateless
    // bm25Score column (one aggregate-HOF pass per doc, model constants
    // as literals — the form the streaming gate evaluates), with the
    // fit memoized per dir (fitBm25 = the build artifact). The oracle
    // recomputes the same statistics in SQL, so the driver's compare
    // witnesses fit AND serve math end-to-end — the q_quality_classifier
    // discipline applied to relevance.
    Query("q_bm25_serve", (s, d) => {
      val m = bm25Model(s, d)
      // coalesce: null text → null tokens → null score; serve 0 like
      // the oracle's LEFT JOIN + COALESCE (and like a token-less doc)
      docs(s, d)
        .select(col("doc_id"),
          coalesce(round(TextAnalysis.bm25Score(m)(col("text")), 6), lit(0.0))
            .as("score_r"))
        .orderBy(col("doc_id"))
    }, Sql(
      // all-docs serving twin: LEFT JOIN + COALESCE(0) — a doc with no
      // query term (or no tokens) serves exactly 0
      s"""$bm25Ctes
         |SELECT d.doc_id, ROUND(COALESCE(sc.score, 0), 6) AS score_r
         |FROM documents d LEFT JOIN sc USING (doc_id)
         |ORDER BY d.doc_id""".stripMargin)),

    // benchmark-contamination report: 5-gram shingle overlap between the
    // training split and a planted "benchmark" slice (doc_id % 10 == 7 —
    // stands in for an eval set). The decontamination pass every serious
    // training corpus runs (n-gram collision against held-out evals). At
    // scale the benchmark gram set is small → broadcast; the corpus side
    // never self-joins.
    Query("q_contamination", (s, d) => {
      val base = docs(s, d)
      def grams(df: DataFrame, idAlias: String) =
        df.select(col("doc_id").as(idAlias),
          explode(Dedup.shingles(col("text"), 5)).as("g"))
      val bench = grams(base.filter(pmod(col("doc_id"), lit(10)) === 7), "bench_id")
      val train = grams(base.filter(pmod(col("doc_id"), lit(10)) =!= 7), "doc_id")
      train.join(broadcast(bench), Seq("g"))
        .groupBy(col("doc_id"), col("bench_id"))
        .agg(count(lit(1)).as("n_shared"))
        .orderBy(col("doc_id"), col("bench_id"))
    }, Sql(
      s"""WITH t AS (SELECT doc_id, $duckToks AS tk FROM documents),
         |sh AS (
         |  SELECT doc_id, UNNEST(list_distinct(
         |    ${shingleListSql("tk", 5)})) AS g
         |  FROM t
         |)
         |SELECT a.doc_id AS doc_id, b.doc_id AS bench_id, COUNT(*) AS n_shared
         |FROM sh a JOIN sh b ON a.g = b.g
         |WHERE a.doc_id % 10 != 7 AND b.doc_id % 10 = 7
         |GROUP BY 1, 2
         |ORDER BY a.doc_id, bench_id""".stripMargin)),

    // THE flagship curation composition, fully oracled end to end:
    // quality gate → exact dedup (min-id per content fingerprint) →
    // bench decontamination → per-source survival report. Every stage is
    // individually SQL-expressible, so DuckDB verifies the ENTIRE
    // pipeline — the strongest correctness statement in the repo: a user
    // can run the whole curation in one call and the composition (not
    // just the parts) is value-checked. Gate compares on the ROUNDED
    // quality so the cut is bit-identical cross-engine. Scale shape:
    // gate is map-only; dedup is one fingerprint shuffle (ids-only keep
    // set); decontamination broadcasts bench DISTINCT grams; one final
    // bounded aggregate.
    Query("q_corpus_pipeline", (s, d) => {
      val base = docs(s, d)
      // pinned too: read by the contamination gram join AND the final
      // anti-join survivors side
      val deduped = qualityDeduped(base).localCheckpoint(true)
      val bench = base.filter(pmod(col("doc_id"), lit(10)) === 7)
      // guarded gram join (broadcast under the threshold, shuffle past
      // it — TextAnalysis.contaminationPlan owns the choice + logging)
      val contaminated =
        TextAnalysis.contaminationPlan(deduped, bench).contaminatedIds
      deduped.join(contaminated, Seq("doc_id"), "left_anti")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_kept"), sum(col("n_chars")).as("n_chars_kept"),
          round(avg(col("q")), 6).as("mean_quality"))
        .orderBy(col("source"))
    }, Sql(
      s"""$corpusSurvivorCtes
         |SELECT source, COUNT(*) AS n_kept,
         |  CAST(SUM(n_chars) AS BIGINT) AS n_chars_kept,
         |  ROUND(AVG(q), 6) AS mean_quality
         |FROM dd
         |WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)
         |GROUP BY source ORDER BY source""".stripMargin)),

    // flagship pipeline, round-9 composition: the SAME gate chain as
    // q_corpus_pipeline but decontamination runs the bloom-pre-filtered
    // path (bit-identical survivors — the bloom is exact) and the
    // survival report adds the mean BM25 relevance of what was kept —
    // quality, hygiene AND query-relevance of the admitted corpus in one
    // DuckDB-verified composition. Scale shape: every stage inherits its
    // operator's posture (in-scan bloom prune, broadcast bench grams,
    // one content-hash shuffle, broadcast BM25 constants).
    Query("q_corpus_pipeline_v2", (s, d) => {
      val base = docs(s, d)
      val m = bm25Model(s, d)
      val deduped = qualityDeduped(base)
      val bench = base.filter(pmod(col("doc_id"), lit(10)) === 7)
      TextAnalysis.decontaminateBloom(deduped, bench)
        .withColumn("rel_r",
          coalesce(round(TextAnalysis.bm25Score(m)(col("text")), 6), lit(0.0)))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_kept"), sum(col("n_chars")).as("n_chars_kept"),
          round(avg(col("q")), 6).as("mean_quality"),
          round(avg(col("rel_r")), 6).as("mean_relevance"))
        .orderBy(col("source"))
    }, Sql(
      // v2 = v1's survivor set verbatim (bloom decontamination is exact)
      // + the BM25 relevance of what survived; the bm25 CTEs (b*) mirror
      // q_bm25_serve over the FULL documents table, matching fitBm25
      s"""$corpusSurvivorCtes, $bm25ServeCtes, survivors AS (
         |  SELECT dd.*, ROUND(COALESCE(bsc.score, 0), 6) AS rel_r
         |  FROM dd LEFT JOIN bsc USING (doc_id)
         |  WHERE dd.doc_id NOT IN (SELECT doc_id FROM contaminated)
         |)
         |SELECT source, COUNT(*) AS n_kept,
         |  CAST(SUM(n_chars) AS BIGINT) AS n_chars_kept,
         |  ROUND(AVG(q), 6) AS mean_quality,
         |  ROUND(AVG(rel_r), 6) AS mean_relevance
         |FROM survivors
         |GROUP BY source ORDER BY source""".stripMargin)),

    // the FULL intake funnel, round-10 composition — the batch twin of
    // the composed online loop (EventStreams.curationIntake), ROW-LEVEL
    // oracled: quality gate → exact dedup → bloom decontamination →
    // BM25 relevance gate (rel_r > 0: the doc must actually match the
    // query set) → per-source BUDGET ADMISSION, highest-relevance-first
    // (admitByBudget ordered by (rel_r desc, doc_id) — the "take the
    // best under budget" cut a data-mix plan executes). Targets derive
    // from the candidates themselves (ceil(60%) per source) so the
    // budget BINDS at every scale factor and DuckDB recomputes the same
    // targets — the admitted ROWS, not a summary, are value-checked,
    // boundary ties broken by doc_id on identical 6dp-rounded scores.
    // Scale shape: gate stages inherit their operators' posture; the
    // admission window partitions by source (never partitionless) and
    // the targets relation is |sources| rows, broadcast.
    Query("q_corpus_pipeline_v3", (s, d) => {
      val base = docs(s, d)
      val m = bm25Model(s, d)
      val deduped = qualityDeduped(base)
      val bench = base.filter(pmod(col("doc_id"), lit(10)) === 7)
      val candidates = TextAnalysis.decontaminateBloom(deduped, bench)
        .withColumn("rel_r",
          coalesce(round(TextAnalysis.bm25Score(m)(col("text")), 6), lit(0.0)))
        .filter(col("rel_r") > 0)
      val targets = candidates.groupBy(col("source"))
        .agg(ceil(count(lit(1)) * lit(0.6)).cast("long").as("target"))
      graft.operators.Mix.admitByBudget(candidates, targets, col("source"),
          Seq(col("rel_r").desc, col("doc_id")))
        .select(col("source"), col("doc_id"), col("q"), col("rel_r"))
        .orderBy(col("source"), col("doc_id"))
    }, Sql(
      s"""$corpusSurvivorCtes, $bm25ServeCtes, candidates AS (
         |  SELECT dd.source, dd.doc_id, dd.q,
         |    ROUND(COALESCE(bsc.score, 0), 6) AS rel_r
         |  FROM dd LEFT JOIN bsc USING (doc_id)
         |  WHERE dd.doc_id NOT IN (SELECT doc_id FROM contaminated)
         |    AND ROUND(COALESCE(bsc.score, 0), 6) > 0
         |), tgt AS (
         |  SELECT source, CAST(CEIL(0.6 * COUNT(*)) AS BIGINT) AS target
         |  FROM candidates GROUP BY source
         |), rn AS (
         |  SELECT candidates.*, ROW_NUMBER() OVER (
         |    PARTITION BY source ORDER BY rel_r DESC, doc_id) AS rk
         |  FROM candidates
         |)
         |SELECT source, doc_id, q, rel_r
         |FROM rn JOIN tgt USING (source)
         |WHERE rk <= target
         |ORDER BY source, doc_id""".stripMargin)),

    // decontamination, end to end: REMOVE every train doc sharing a
    // 5-gram with the bench split and report what survives per source —
    // the action q_contamination's report exists to justify (pretraining
    // hygiene: eval n-gram overlap must be cut, not just measured).
    // Scale shape: bench reduces to DISTINCT grams and broadcasts; the
    // contaminated id set is ids-only; removal is one left-anti join.
    // The bench-gram join goes through TextAnalysis.contaminationPlan —
    // the guarded form that measures the gram count and falls back to a
    // shuffle join past the broadcast threshold (never silently; both
    // paths value-equal, CurationSpec).
    Query("q_decontaminate", (s, d) => {
      val base = docs(s, d)
      val bench = base.filter(pmod(col("doc_id"), lit(10)) === 7)
      val train = base.filter(pmod(col("doc_id"), lit(10)) =!= 7)
      TextAnalysis.decontaminate(train, bench)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_kept"), sum(col("n_chars")).as("n_chars_kept"))
        .orderBy(col("source"))
    }, Sql(decontaminateSql)),

    // bloom-pre-filtered decontamination — BIT-IDENTICAL result to
    // q_decontaminate (no false negatives; same gram construction), so
    // the SAME DuckDB oracle verifies it. The plan difference is the
    // point: the corpus-sized explode→join runs only over the docs the
    // in-scan bloom predicate couldn't clear (contamination rate + fpp
    // of the corpus, not all of it) — the 100 TB-shaped variant.
    Query("q_decontaminate_bloom", (s, d) => {
      val base = docs(s, d)
      val bench = base.filter(pmod(col("doc_id"), lit(10)) === 7)
      val train = base.filter(pmod(col("doc_id"), lit(10)) =!= 7)
      TextAnalysis.decontaminateBloom(train, bench)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_kept"), sum(col("n_chars")).as("n_chars_kept"))
        .orderBy(col("source"))
    }, Sql(
      // the bloom variant is exact (no false negatives + exact verify
      // join), so it shares q_decontaminate's oracle
      decontaminateSql)),

    // repetition score: most-frequent-token share per document — the
    // cheap garbage/spam detector (a doc that is one token over and over
    // scores 1.0). Two aggregates over one (doc,term) shuffle; the top
    // term is picked deterministically via max(struct(count, term)).
    Query("q_repetition", (s, d) => {
      // ONE fused census pass (TextStats.rep_stats) instead of explode →
      // two-level agg: top1_n/top1_term mirror max(struct(c, term))
      // exactly (highest count, binary-largest term) and Σc IS n_tokens,
      // so every value is bit-identical; token-less docs drop out like
      // the explode form dropped them. Map-only ⇒ boundedSort (the
      // report is ≤|docs| rows; a range sort would run the census twice).
      docsWide(s, d)
        .select(col("doc_id"), graft.functions.TextStats.rep_stats(
          Dedup.tokens(col("text")), 10).as("__r"))
        .filter(col("__r.n_tokens") > 0)
        .select(col("doc_id"),
          col("__r.top1_term").as("top_term"),
          ratio6(col("__r.top1_n"), col("__r.n_tokens")).as("rep_ratio"),
          col("__r.n_tokens").as("n_tokens"))
        .transform(graft.operators.Layout.boundedSort(_, col("doc_id")))
    }, Sql(
      s"""WITH t AS (SELECT doc_id, $duckToks AS tk FROM documents),
         |tok AS (SELECT doc_id, UNNEST(tk) AS term FROM t),
         |c AS (SELECT doc_id, term, COUNT(*) AS c FROM tok GROUP BY 1, 2),
         |r AS (
         |  SELECT doc_id, term, c,
         |    ROW_NUMBER() OVER (PARTITION BY doc_id
         |                       ORDER BY c DESC, term DESC) AS rn,
         |    SUM(c) OVER (PARTITION BY doc_id) AS n_tokens,
         |    MAX(c) OVER (PARTITION BY doc_id) AS mx
         |  FROM c
         |)
         |SELECT doc_id, term AS top_term,
         |  ${ratio6Sql("mx", "n_tokens")} AS rep_ratio,
         |  CAST(n_tokens AS BIGINT) AS n_tokens
         |FROM r WHERE rn = 1 ORDER BY doc_id""".stripMargin)),

    // compression-ratio quality gate: deflated/raw byte ratio per doc —
    // the classic redundancy detector (templated spam and boilerplate
    // compress far below natural prose; q_repetition sees only
    // token-level repeats, deflate sees phrase/structure redundancy).
    // One fused codegen'd expression (CompressRatioExpr), map-only.
    // Rows-only: zlib deflate is not SQL-expressible; monotonicity
    // (repetitive ≪ prose ≪ mash) + determinism asserted in TextSpec.
    Query("q_compress_ratio", (s, d) => {
      docs(s, d)
        .select(col("doc_id"), col("n_chars"),
          round(graft.functions.CompressStats.compress_ratio(col("text")), 6)
            .as("ratio_r"))
        .withColumn("is_redundant", col("ratio_r") < 0.35)
        // boundedSort: the orderBy's range-sampling pass re-ran the
        // deflate pass over the whole corpus (Layout.boundedSort doc)
        .transform(graft.operators.Layout.boundedSort(_, col("doc_id")))
    }, Exempt(
      "PERMANENTLY exempt: zlib deflate output bytes are a compressor implementation detail, not replayable arithmetic; monotonicity (repetitive < prose < mash) + determinism tests in TextSpec")),

    // lexical diversity per source: type-token ratio + hapax share out
    // of ONE (source, term) aggregate — the vocabulary-richness
    // observability that catches templated/bot feeds (low TTR, low
    // hapax) before they dominate a mix. Fully oracled. Scale shape:
    // one (source, term) shuffle with map-side partial counts, then a
    // bounded per-source rollup — no self-joins, no collects.
    Query("q_lexical_diversity", (s, d) => {
      docs(s, d)
        .select(col("source"), explode(Dedup.tokens(col("text"))).as("t"))
        .groupBy(col("source"), col("t")).agg(count(lit(1)).as("c"))
        .groupBy(col("source"))
        .agg(sum(col("c")).as("n_tokens"),
          count(lit(1)).as("n_types"),
          ratio6(count(lit(1)), sum(col("c"))).as("ttr_r"),
          ratio6(count(when(col("c") === 1, 1)), count(lit(1)))
            .as("hapax_r"))
        .orderBy(col("source"))
    }, Sql(
      s"""WITH toks AS (
         |  SELECT source, unnest($duckToks) AS t FROM documents
         |), tc AS (
         |  SELECT source, t, COUNT(*) AS c FROM toks GROUP BY source, t
         |)
         |SELECT source, CAST(SUM(c) AS BIGINT) AS n_tokens,
         |  COUNT(*) AS n_types,
         |  ${ratio6Sql("COUNT(*)", "SUM(c)")} AS ttr_r,
         |  ${ratio6Sql("COUNT(CASE WHEN c = 1 THEN 1 END)", "COUNT(*)")}
         |    AS hapax_r
         |FROM tc GROUP BY source ORDER BY source""".stripMargin)),

    // character-trigram language-model quality score (perplexity proxy —
    // the statistical gibberish detector next to the heuristic
    // q_text_quality): train a corpus trigram distribution in one
    // alphabet-bounded aggregate, score each doc by its mean trigram
    // log-probability under it. Docs whose character statistics diverge
    // from the corpus (mojibake, binary spew, key-mash) score far below
    // the mode. Scale shape: the LM is bounded by the alphabet (≤37³
    // trigrams over [a-z0-9 ]) → broadcast; the corpus streams through
    // two map passes (train, score) and never self-joins; trigram
    // extraction is one fused codegen'd expression (CharTrigrams —
    // the composable HOF form re-runs the normalizing regex per trigram).
    // Fully DuckDB-oracled: normalization mirrors
    // regexp_replace(lower(text),'[^a-z0-9]+',' ','g') exactly (fixture
    // is pure ASCII — probed; Unicode edge mappings documented on the
    // expression).
    Query("q_lm_score", (s, d) => {
      val tris = docs(s, d).select(col("doc_id"),
        explode(TextHashFunctions.char_trigrams(col("text"))).as("tri"))
      val lm = tris.groupBy(col("tri")).agg(count(lit(1)).as("c"))
      val tot = lm.agg(sum(col("c")).as("n"))
      tris.join(broadcast(lm), Seq("tri"))
        .crossJoin(broadcast(tot))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_trigrams"),
          round(avg(log(col("c").cast("double") / col("n").cast("double"))), 6)
            .as("avg_logp"))
        .orderBy(col("doc_id"))
    }, Sql(
      """WITH norm AS (
        |  SELECT doc_id,
        |    regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g') AS s
        |  FROM documents
        |), tris AS (
        |  SELECT doc_id,
        |    unnest(list_transform(range(1, len(s) - 1), i -> substr(s, i, 3))) AS tri
        |  FROM norm WHERE len(s) >= 3
        |), lm AS (SELECT tri, COUNT(*) AS c FROM tris GROUP BY tri),
        |tot AS (SELECT SUM(c) AS n FROM lm)
        |SELECT doc_id, COUNT(*) AS n_trigrams,
        |  ROUND(AVG(ln(CAST(c AS DOUBLE) / CAST(n AS DOUBLE))), 6) AS avg_logp
        |FROM tris JOIN lm USING (tri), tot
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // BPE tokenizer training, step 1, distributed: the most frequent
    // adjacent character pair weighted by word frequency — the statistic
    // every BPE merge round is chosen from. Shape at scale: ONE corpus
    // pass reduces to the (word, freq) vocabulary (bounded far below
    // corpus size); pair explosion runs over the VOCABULARY, not the
    // corpus, so a merge round's cost is O(vocab), corpus-touching work
    // happens exactly once. Top-20 via TakeOrdered before the bounded
    // ranking window. Lambda touches only post-aggregate attributes (no
    // HOF re-evaluation of upstream expressions).
    Query("q_bpe_pairs", (s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("pair_freq").desc, col("pair"))
      docs(s, d)
        .select(explode(Dedup.tokens(col("text"))).as("w"))
        .groupBy(col("w")).agg(count(lit(1)).as("freq"))
        .filter(length(col("w")) >= 2)
        .select(col("freq"), explode(transform(
          sequence(lit(1), length(col("w")) - 1),
          i => col("w").substr(i, lit(2)))).as("pair"))
        .groupBy(col("pair")).agg(sum(col("freq")).as("pair_freq"))
        .orderBy(col("pair_freq").desc, col("pair")).limit(20)
        .withColumn("rank", row_number().over(w).cast("long"))
        .select(col("rank"), col("pair"), col("pair_freq"))
        .orderBy(col("rank"))
    }, Sql(
      s"""WITH words AS (
        |  SELECT term AS w, COUNT(*) AS freq FROM (
        |    SELECT unnest($duckToks) AS term FROM documents
        |  ) GROUP BY term
        |), pairs AS (
        |  SELECT unnest(list_transform(range(1, len(w)), i -> substr(w, i, 2))) AS pair,
        |         freq
        |  FROM words WHERE len(w) >= 2
        |), agg AS (
        |  SELECT pair, CAST(SUM(freq) AS BIGINT) AS pair_freq
        |  FROM pairs GROUP BY pair
        |), top AS (
        |  SELECT pair, pair_freq,
        |    CAST(ROW_NUMBER() OVER (ORDER BY pair_freq DESC, pair) AS BIGINT) AS rank
        |  FROM agg QUALIFY rank <= 20
        |)
        |SELECT rank, pair, pair_freq FROM top ORDER BY rank""".stripMargin), headline = false),

    // BPE tokenizer TRAINING (the iterative extension of q_bpe_pairs):
    // 10 merge rounds over the bounded (word, freq) vocabulary — each
    // round O(vocab), corpus touched exactly once upstream. Rows-only
    // (iterative argmax-rewrite loops aren't SQL-expressible); the merge
    // sequence is asserted equal to an independent driver-side BPE
    // implementation in TextSpec.
    Query("q_bpe_vocab", (s, d) => {
      val vocab = docs(s, d)
        .select(explode(Dedup.tokens(col("text"))).as("w"))
        .groupBy(col("w")).agg(count(lit(1)).as("freq"))
      TextAnalysis.bpeMerges(vocab, rounds = 10)
        .orderBy(col("round"))
    }, Sql(
      // the full 10-round BPE training loop replayed in DuckDB — a STATIC
      // pure-SQL oracle (no fitted literals): per-round argmax + greedy
      // rewrite, generated by [[bpeVocabOracleSql]] (r15 de-exemption)
      bpeVocabOracleSql)),

    // BPE tokenizer SERVING (the apply side of q_bpe_vocab): encode every
    // document's token stream under the trained merge table — one fused
    // map-only expression (codes per doc: O(merges × chars)), zero
    // shuffles before the final per-doc projection. Rows-only; asserted
    // equal to an independent driver-side encoder in TextSpec.
    Query("q_bpe_tokenize", (s, d) => {
      val merges = bpeModel(s, d)
      docsWide(s, d)
        .select(col("doc_id"),
          TextHashFunctions.bpe_encode(Dedup.tokens(col("text")), merges).as("sub"))
        .select(col("doc_id"),
          size(col("sub")).cast("long").as("n_subwords"),
          md5(array_join(col("sub"), " ")).as("subword_hash"))
        .orderBy(col("doc_id"))
    }, Fitted((s, d) => bpeTokenizeOracleSql(bpeModel(s, d)))),

    // weighted sampling WITHOUT replacement (Efraimidis-Spirakis): key =
    // u^(1/w) with u a DETERMINISTIC arithmetic hash of the id (never
    // rand() — SCALING.md determinism rule) and w = n_chars; top-100 by
    // key is an exact weighted sample. Map-only + TakeOrdered — the
    // sampling shape that works at any scale. Rank on the ROUNDED key
    // with id tiebreak (cross-engine float rule).
    Query("q_weighted_sample", (s, d) => {
      val u = (pmod(col("doc_id") * 2654435761L, lit(1000003L)).cast("double") + 1.0) /
        1000004.0
      docs(s, d).filter(col("n_chars") > 0)
        .select(col("doc_id"), col("source"), col("n_chars"),
          round(pow(u, lit(1.0) / col("n_chars").cast("double")), 6).as("es_key"))
        .orderBy(col("es_key").desc, col("doc_id"))
        .limit(100)
    }, Sql(
      """SELECT doc_id, source, n_chars,
        |  ROUND(POWER(((doc_id * 2654435761) % 1000003 + 1) / 1000004.0,
        |              1.0 / n_chars), 6) AS es_key
        |FROM documents WHERE n_chars > 0
        |ORDER BY es_key DESC, doc_id LIMIT 100""".stripMargin), headline = false),

    // passage-level dedup report: 20-token windows deduped corpus-wide by
    // first occurrence, reassembled per doc (hash of the surviving text,
    // not the text itself, keeps the output compact). The sub-document
    // pass for boilerplate/syndicated spans.
    Query("q_dedup_passages", (s, d) => {
      Dedup.passageDedupReport(docs(s, d))
        .select(col("doc_id"), col("n_chunks"), col("n_kept"), col("dedup_hash"))
        .orderBy(col("doc_id"))
    }, Sql(
      s"""WITH t AS (SELECT doc_id, $duckToks AS tk FROM documents),
         |nz AS (SELECT doc_id, tk, len(tk) AS n FROM t WHERE len(tk) > 0),
         |ch AS (
         |  SELECT doc_id, i AS idx,
         |    array_to_string(tk[i*20+1 : i*20+20], ' ') AS para
         |  FROM (SELECT doc_id, tk,
         |          UNNEST(range(0, CAST(ceil(n/20.0) AS BIGINT))) AS i
         |        FROM nz)
         |),
         |r AS (
         |  SELECT doc_id, idx, para,
         |    ROW_NUMBER() OVER (PARTITION BY md5(para)
         |                       ORDER BY doc_id, idx) AS rn
         |  FROM ch
         |),
         |kept AS (
         |  SELECT doc_id, COUNT(*) AS n_kept,
         |    md5(string_agg(para, ' ' ORDER BY idx)) AS dedup_hash
         |  FROM r WHERE rn = 1 GROUP BY doc_id
         |),
         |nc AS (SELECT doc_id, CAST(ceil(n/20.0) AS BIGINT) AS n_chunks FROM nz)
         |SELECT nc.doc_id AS doc_id, n_chunks,
         |  COALESCE(n_kept, 0) AS n_kept,
         |  COALESCE(dedup_hash, md5('')) AS dedup_hash
         |FROM nc LEFT JOIN kept ON nc.doc_id = kept.doc_id
         |ORDER BY doc_id""".stripMargin)),

    // transitive dedup closure on a CHAIN topology — consecutive orders
    // (by orderkey) of each customer are "near-dups": the full chain must
    // collapse to the customer's min orderkey, which is exactly the case
    // one-hop star-collapse gets wrong. Oracle needs no recursion because
    // the planted topology makes the answer a per-customer window min.
    Query("q_dedup_cc", (s, d) => {
      val pairs = orderChainPairs(s, d)
      Dedup.connectedComponents(pairs)
        .select(col("id"), col("comp"))
        .orderBy(col("id"))
    }, Sql(dedupCcSql)),

    // EXACT-N deterministic holdout: the 50 docs with the smallest
    // md5(doc_id) — "hold out exactly N docs" where the hash-fraction
    // sampler only controls the expected size. TakeOrdered plan
    // (per-partition heaps, no global sort — SplitSpec-asserted); md5
    // keys the order so the sampled SET is DuckDB-oracled exactly.
    Query("q_sample_exact_n", (s, d) => {
      Split.exactNSample(docs(s, d).select(col("doc_id"), col("source")),
        50, Seq(col("doc_id")))
        .orderBy(col("doc_id"))
    }, Sql(
      """WITH k AS (
        |  SELECT doc_id, source,
        |    CAST(length(CAST(doc_id AS VARCHAR)) AS VARCHAR)
        |      || ':' || CAST(doc_id AS VARCHAR) AS ks
        |  FROM documents
        |)
        |SELECT doc_id, source FROM (
        |  SELECT doc_id, source FROM k
        |  ORDER BY md5(ks), ks LIMIT 50
        |) ORDER BY doc_id""".stripMargin), headline = false),

    // STRATIFIED exact-N holdout: exactly 5 docs PER SOURCE (the
    // imbalance-proof eval-set cut — a global exact-N under-samples
    // small sources). Deterministic md5-of-serialized-key order, ties
    // broken by the key itself; one shuffle on source with the rank cut
    // pushed to both sides of the exchange as WindowGroupLimit
    // (per-partition heaps, no global sort — SplitSpec-asserted).
    // Fully DuckDB-oracled like q_sample_exact_n.
    Query("q_sample_stratified", (s, d) => {
      Split.exactNPerGroup(docs(s, d).select(col("doc_id"), col("source")),
        5, col("source"), Seq(col("doc_id")))
        .orderBy(col("doc_id"))
    }, Sql(
      """WITH k AS (
        |  SELECT doc_id, source,
        |    CAST(length(CAST(doc_id AS VARCHAR)) AS VARCHAR)
        |      || ':' || CAST(doc_id AS VARCHAR) AS ks
        |  FROM documents
        |), r AS (
        |  SELECT doc_id, source,
        |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY md5(ks), ks) AS rn
        |  FROM k
        |)
        |SELECT doc_id, source FROM r WHERE rn <= 5 ORDER BY doc_id""".stripMargin)),

    // INCREMENTAL transitive closure: the q_dedup_cc graph split into a
    // historical batch (chain edges arriving at orderkey < 4000) and a
    // new ingest (the rest); labels come from a full CC over the old
    // batch, then incrementalCC merges the new edges — the CC loop runs
    // only over the CONTRACTED batch-sized graph, the corpus pays two
    // joins. The planted chain topology makes incremental ≡ full, so
    // this shares q_dedup_cc's EXACT oracle: the driver witnesses that
    // the maintained label map equals a from-scratch recompute.
    Query("q_dedup_cc_incremental", (s, d) => {
      val pairs = orderChainPairs(s, d)
      val old = pairs.filter(col("id_b") < 4000)
      val fresh = pairs.filter(col("id_b") >= 4000)
      Dedup.incrementalCC(Dedup.connectedComponents(old), fresh)
        .select(col("id"), col("comp"))
        .orderBy(col("id"))
    }, Sql(
      // identical to q_dedup_cc by construction: incremental maintenance
      // over the split edge stream must reproduce the full closure
      dedupCcSql)),

    // the ONLINE label map's serving view (Artifacts.resolveLabels —
    // exactly what maintainedClusterIntake reads between compactions):
    // latest label per id over an (id, comp, seq) delta log. The log is
    // planted from arithmetic on doc ids — three generations, each
    // re-labeling a subset — so the latest-seq-wins resolve is fully
    // ORACLED (DuckDB max_by), witnessing the streaming map's read path.
    Query("q_dedup_labels_resolved", (s, d) => {
      val ids = docs(s, d).select(col("doc_id").as("id"))
      val g1 = ids.select(col("id"),
        pmod(col("id"), lit(50L)).as("comp"), lit(1L).as("seq"))
      val g2 = ids.filter(pmod(col("id"), lit(2)) === 0).select(col("id"),
        pmod(col("id"), lit(25L)).as("comp"), lit(2L).as("seq"))
      val g3 = ids.filter(pmod(col("id"), lit(10)) === 0).select(col("id"),
        lit(7L).as("comp"), lit(3L).as("seq"))
      graft.operators.Artifacts
        .resolveLabels(g1.unionByName(g2).unionByName(g3))
        .orderBy(col("id"))
    }, Sql(
      """WITH log AS (
        |  SELECT doc_id AS id, doc_id % 50 AS comp, 1 AS seq FROM documents
        |  UNION ALL
        |  SELECT doc_id, doc_id % 25, 2 FROM documents WHERE doc_id % 2 = 0
        |  UNION ALL
        |  SELECT doc_id, CAST(7 AS BIGINT), 3 FROM documents WHERE doc_id % 10 = 0
        |)
        |SELECT id, max_by(comp, seq) AS comp FROM log
        |GROUP BY id ORDER BY id""".stripMargin)),

    // QUALITY-priority transitive dedup: per near-dup component keep the
    // BEST-quality member (ties → min id), not the min id — what a
    // production pipeline wants from a dup cluster (min-id keeps
    // whichever copy was crawled first; keep-best keeps the cleanest).
    // Fully ORACLED via the q_dedup_cc chain construction: pairs chain
    // docs within floor(doc_id/5) groups, so components are those groups
    // by construction and DuckDB verifies the keep-best cut with a plain
    // window — the CC machinery is exercised, the SEMANTICS are
    // value-checked. Quality compares on the 6dp-rounded score
    // (bit-identical cross-engine), the q_corpus_pipeline convention.
    Query("q_dedup_keep_best", (s, d) => {
      val base = docs(s, d)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(floor(col("doc_id") / 5)).orderBy(col("doc_id"))
      val pairs = base.select(col("doc_id"))
        .withColumn("prev", lag(col("doc_id"), 1).over(w))
        .filter(col("prev").isNotNull)
        .select(col("prev").as("id_a"), col("doc_id").as("id_b"))
      val kept = Dedup.dedupKeepSetBest(base, pairs,
        TextAnalysis.qualityScore(col("text")))
      base.join(kept, Seq("doc_id"), "left_semi")
        .select(col("doc_id"),
          TextAnalysis.qualityScore(col("text")).as("q_r"))
        .orderBy(col("doc_id"))
    }, Sql(
      s"""WITH t AS (
         |  SELECT doc_id, text, $duckToks AS toks,
         |    CAST(length(text) AS DOUBLE) AS nchar
         |  FROM documents
         |), sc AS (
         |  SELECT doc_id, $duckQuality AS q, doc_id // 5 AS g FROM t
         |), r AS (
         |  SELECT doc_id, q,
         |    ROW_NUMBER() OVER (PARTITION BY g ORDER BY q DESC, doc_id) AS rn
         |  FROM sc
         |)
         |SELECT doc_id, q AS q_r FROM r WHERE rn = 1 ORDER BY doc_id""".stripMargin)),

    // dedup observability: the cluster-SIZE distribution after transitive
    // closure — the report that tells you whether near-dup mass sits in a
    // few mega-clusters (boilerplate, syndication) or a long tail of
    // pairs, and the first thing to look at before choosing a keep
    // policy. Same planted chain topology as q_dedup_cc, so the oracle
    // needs no recursion: component sizes are per-customer order counts
    // (chains of consecutive orders), clusters = customers with >= 2
    // orders in range. Two bounded aggregates after the CC loop.
    Query("q_dedup_cluster_sizes", (s, d) => {
      val pairs = orderChainPairs(s, d)
      Dedup.connectedComponents(pairs)
        .groupBy(col("comp")).agg(count(lit(1)).as("sz"))
        .groupBy(col("sz")).agg(count(lit(1)).as("n_clusters"))
        .orderBy(col("sz"))
    }, Sql(
      """WITH o AS (
        |  SELECT o_custkey, COUNT(*) AS sz
        |  FROM orders WHERE o_orderkey < 5000
        |  GROUP BY o_custkey HAVING COUNT(*) >= 2
        |)
        |SELECT CAST(sz AS BIGINT) AS sz, COUNT(*) AS n_clusters
        |FROM o GROUP BY sz ORDER BY sz""".stripMargin)),

    // incremental NEAR-dup maintenance: docs with doc_id%10==3 play the
    // incoming batch, the rest the indexed corpus — batch bucket rows
    // join the persisted ids-only index, Jaccard verify fetches shingles
    // by matched id. VALUE-ORACLED since r12 via the banding twin
    // (bucket-join candidates + exact Jaccard, mirrored in DuckDB);
    // planted-pair + full-batch-equivalence tests in DedupSimilaritySpec.
    Query("q_dedup_incremental_near", (s, d) => {
      val base = docs(s, d)
      val batch = base.filter(pmod(col("doc_id"), lit(10)) === 3)
      val corpus = base.filter(pmod(col("doc_id"), lit(10)) =!= 3)
      Dedup.incrementalNearDup(batch, Dedup.minhashIndex(corpus), threshold = 0.5)
        .select(col("new_id"), col("corpus_id"), round(col("jaccard"), 6).as("j_r"))
        .orderBy(col("new_id"), col("corpus_id"))
    }, Sql(
      // incremental near-dup maintenance (DE-EXEMPTED r12): the
      // doc_id%10==3 batch's buckets join the corpus buckets on
      // (band, bucket) — NO cap on this path (the index join is ids-only
      // and verify-bounded) — distinct (new, corpus) pairs, Jaccard >= 0.5
      s"""WITH $minhashCte,
         |cand AS (
         |  SELECT DISTINCT nb.doc_id AS new_id, cb.doc_id AS corpus_id
         |  FROM mh_buckets nb JOIN mh_buckets cb
         |    ON nb.band = cb.band AND nb.bucket = cb.bucket
         |  WHERE nb.doc_id % 10 = 3 AND cb.doc_id % 10 <> 3
         |),
         |j AS (
         |  SELECT c.new_id, c.corpus_id,
         |    CAST(len(list_intersect(sa.shs, sb.shs)) AS DOUBLE) AS inter,
         |    CAST(len(sa.shs) + len(sb.shs) AS DOUBLE) AS tot
         |  FROM cand c
         |  JOIN mh_shingles sa ON sa.doc_id = c.new_id
         |  JOIN mh_shingles sb ON sb.doc_id = c.corpus_id
         |)
         |SELECT new_id, corpus_id,
         |  ROUND(inter / (tot - inter), 6) AS j_r
         |FROM j
         |WHERE tot - inter > 0 AND inter / (tot - inter) >= 0.5
         |ORDER BY new_id, corpus_id""".stripMargin), headline = false),

    // bucketStats over the REAL minhash banding (the production health
    // check next to the SQL-mirrored q_bucket_stats): on a sane corpus
    // with threshold-tuned banding, n_truncated must be 0 — a nonzero
    // value is the retune-your-banding alarm. VALUE-ORACLED since r12
    // via the banding twin (group sizes over mh_buckets).
    Query("q_minhash_bucket_health", (s, d) => {
      Dedup.bucketStats(Dedup.minhashBuckets(docs(s, d)), maxBucket = 256)
    }, Sql(
      // bucketStats over the REAL banding (DE-EXEMPTED r12): group sizes
      // from the twin's bucket relation, the same four aggregates
      s"""WITH $minhashCte,
         |sizes AS (
         |  SELECT band, bucket, COUNT(*) AS n
         |  FROM mh_buckets GROUP BY band, bucket
         |)
         |SELECT COUNT(*) AS n_buckets, MAX(n) AS max_bucket,
         |  CAST(SUM(CASE WHEN n > 256 THEN 1 ELSE 0 END) AS BIGINT) AS n_truncated,
         |  CAST(SUM(CASE WHEN n > 256 THEN n - 256 ELSE 0 END) AS BIGINT) AS ids_dropped
         |FROM sizes""".stripMargin)),

    // SimHash signatures (custom codegen'd expression) — VALUE-ORACLED
    // since r12: the fnv64/±1-bit-count arithmetic has a mod-2^64
    // HUGEINT twin in its oracle (the q_minhash_sigs pattern), so the
    // signatures themselves hash-match DuckDB, exact integers
    // end-to-end
    Query("q_dedup_simhash", (s, d) => {
      docs(s, d).select(
        col("doc_id"),
        TextHashFunctions.simhash64(Dedup.tokens(col("text"))).as("simhash"))
        .orderBy(col("doc_id"))
    }, Sql(
      // SimHash64 unrolled (DE-EXEMPTED r12, the q_minhash_sigs move
      // applied to the other hash-derived dedup family): per token fnv64
      // (same char-as-byte contract, ASCII-asserted), per bit j the ±1
      // count over tokens, bit set iff count >= 0 (the Spark tie
      // convention — a token-less doc therefore signs every bit: -1).
      // Bit powers ride a generated 64-row literal table (exact HUGEINT
      // constants; 2^63 overflows BIGINT) so no float power is involved.
      s"""WITH t AS (SELECT doc_id, $duckToks AS tk FROM documents),
         |tok AS (SELECT doc_id, UNNEST(tk) AS w FROM t),
         |h AS (
         |  SELECT doc_id, list_reduce(
         |    list_prepend(CAST(14695981039346656037 AS HUGEINT),
         |      list_transform(string_split(w, ''), c -> CAST(unicode(c) AS HUGEINT))),
         |    (hh, b) -> ${mm64("xor(hh, b)", "1099511628211")}) AS h
         |  FROM tok
         |),
         |pows(j, pw) AS (VALUES ${(0 until 64)
             .map(j => s"(${j}, CAST('${BigInt(1) << j}' AS HUGEINT))")
             .mkString(", ")}),
         |bits AS (
         |  SELECT doc_id, j,
         |    SUM(CASE WHEN (h // pw) % 2 = 1 THEN 1 ELSE -1 END) AS cnt,
         |    MAX(pw) AS pw2
         |  FROM h, pows GROUP BY doc_id, j
         |),
         |sig AS (
         |  SELECT doc_id,
         |    SUM(CASE WHEN cnt >= 0 THEN pw2 ELSE CAST(0 AS HUGEINT) END) AS usig
         |  FROM bits GROUP BY doc_id
         |)
         |SELECT d.doc_id,
         |  CAST(CASE WHEN s.usig IS NULL THEN -1
         |    WHEN s.usig >= 9223372036854775808 THEN s.usig - 18446744073709551616
         |    ELSE s.usig END AS BIGINT) AS simhash
         |FROM (SELECT DISTINCT doc_id FROM documents) d
         |LEFT JOIN sig s USING (doc_id)
         |ORDER BY d.doc_id""".stripMargin)),

    // DSIR-style importance weighting (Xie et al. 2023): score each doc
    // by the log-ratio of its likelihood under a TARGET-domain trigram
    // LM (here: source 'src0') vs the full-corpus LM, Laplace-smoothed
    // over the corpus trigram vocabulary. The published recipe for
    // "select pretraining data that looks like the domain you care
    // about" — at 100 TB the ratio is the resampling weight. Scale
    // shape: see [[dsirWeightsDf]] (shared with q_dsir_select — one
    // definition owns the math).
    Query("q_dsir_weights", (s, d) => {
      // + 0.0 normalizes IEEE negative zero (a log-ratio sum that
      // cancels to -0.0 on one engine reprs as "-0.0" — the sf0.1
      // q_knn_shapley seam)
      dsirWeightsDf(s, d)
        .select(col("doc_id"), col("n_trigrams"),
          (col("w") + lit(0.0)).as("avg_logratio"))
        .orderBy(col("doc_id"))
    }, Sql(
      s"""$dsirCtes
         |SELECT doc_id, n_trigrams, w + 0.0 AS avg_logratio
         |FROM wts ORDER BY doc_id""".stripMargin)),

    // DSIR selection, end to end: weights → deterministic top-k cut →
    // per-source report of what survives. The composition answers the
    // question the weights exist for ("which domains does target-
    // matching actually promote") and pins the cut to the ROUNDED weight
    // with a doc_id tiebreak so the selection boundary is bit-identical
    // cross-engine. TakeOrdered bounds the cut (no global ranking
    // window); everything upstream IS [[dsirWeightsDf]] — structurally,
    // not by textual copy.
    Query("q_dsir_select", (s, d) => {
      dsirWeightsDf(s, d)
        .orderBy(col("w").desc, col("doc_id")).limit(125)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_kept"), round(avg(col("w")), 6).as("mean_w"))
        .orderBy(col("source"))
    }, Sql(
      s"""$dsirCtes, cut AS (
         |  SELECT source, w,
         |    ROW_NUMBER() OVER (ORDER BY w DESC, doc_id) AS rk
         |  FROM wts QUALIFY rk <= 125
         |)
         |SELECT source, COUNT(*) AS n_kept, ROUND(AVG(w), 6) AS mean_w
         |FROM cut GROUP BY source ORDER BY source""".stripMargin)),

    // robust length-outlier gate: median + MAD (median absolute
    // deviation) robust z-score on doc length — the curation filter
    // that, unlike mean/stddev, a handful of 100 MB pathological docs
    // cannot drag. Two grand aggregates (median, then MAD around it)
    // broadcast as 1-row relations; the corpus streams through one
    // map-side scoring pass. is_outlier derives from the ROUNDED z so
    // the flag is bit-identical cross-engine.
    Query("q_mad_outliers", (s, d) => {
      val base = docs(s, d).select(col("doc_id"), col("n_chars"))
      val med = base.agg(percentile(col("n_chars"), lit(0.5)).as("med"))
      val mad = base.crossJoin(broadcast(med)).agg(
        percentile(abs(col("n_chars") - col("med")), lit(0.5)).as("mad"),
        max(col("med")).as("med"))
      base.crossJoin(broadcast(mad))
        .select(col("doc_id"), col("n_chars"),
          round((col("n_chars") - col("med")) /
            (lit(1.4826) * greatest(col("mad"), lit(0.5))), 6).as("robust_z"))
        .withColumn("is_outlier", abs(col("robust_z")) > 3.5)
        .orderBy(col("doc_id"))
    }, Sql(
      """WITH base AS (SELECT doc_id, n_chars FROM documents),
        |med AS (SELECT CAST(quantile_cont(n_chars, 0.5) AS DOUBLE) AS med FROM base),
        |mad AS (
        |  SELECT CAST(quantile_cont(abs(n_chars - med), 0.5) AS DOUBLE) AS mad,
        |         MAX(med) AS med
        |  FROM base, med
        |), z AS (
        |  SELECT doc_id, n_chars,
        |    ROUND((n_chars - med) / (1.4826 * GREATEST(mad, 0.5)), 6) AS robust_z
        |  FROM base, mad
        |)
        |SELECT doc_id, n_chars, robust_z, abs(robust_z) > 3.5 AS is_outlier
        |FROM z ORDER BY doc_id""".stripMargin)),

    // cross-source contamination matrix: for every source pair, how many
    // distinct 5-token prefix fingerprints they share — the
    // curation-observability view that catches one feed syndicating
    // another's boilerplate (exact-dup overlap is the degenerate case;
    // the prefix fingerprint catches shared openings). Scale shape: the
    // corpus reduces to distinct (source, fp) ONCE; the self-join keys
    // on the fingerprint hash (ids-only rows, never text), and
    // per-fingerprint fanout is bounded by n_sources.
    Query("q_source_overlap", (s, d) => {
      // null-text gate on BOTH engines: Spark's concat_ws over a null
      // token array yields "" (→ md5("") fp, phantom cross-source
      // pairs) while DuckDB yields NULL and drops the row — filter
      // identically so the engines can't diverge on a corpus with
      // absent texts (ADVICE r5)
      val h = docs(s, d).filter(col("text").isNotNull)
        .select(col("source"),
          md5(concat_ws(" ", slice(Dedup.tokens(col("text")), 1, 5))).as("fp"))
        .distinct()
      h.as("a").join(h.as("b"),
          col("a.fp") === col("b.fp") && col("a.source") < col("b.source"))
        .select(col("a.source").as("src_a"), col("b.source").as("src_b"))
        .groupBy(col("src_a"), col("src_b"))
        .agg(count(lit(1)).as("n_shared"))
        .orderBy(col("src_a"), col("src_b"))
    }, Sql(
      s"""WITH h AS (
         |  SELECT DISTINCT source,
         |    md5(array_to_string(($duckToks)[1:5], ' ')) AS fp
         |  FROM documents WHERE text IS NOT NULL
         |)
         |SELECT a.source AS src_a, b.source AS src_b, COUNT(*) AS n_shared
         |FROM h a JOIN h b ON a.fp = b.fp AND a.source < b.source
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // trained quality gate, serving path: LR over the fused text-stats +
    // lang-hits features (fit memoized per dir — a build artifact like
    // the BPE merges), scored as one map-only sigmoid column. Rows-only:
    // the LBFGS fit is not SQL-expressible; CurationSpec pins teacher
    // agreement (accuracy floor vs the heuristic gate), fit determinism,
    // and the planted clean-vs-soup separation.
    Query("q_quality_classifier", (s, d) => {
      val m = qlrModel(s, d)
      docs(s, d).select(col("doc_id"),
        round(TextAnalysis.qualityLrScore(m)(col("text")), 6).as("score_r"))
        .withColumn("pred_keep", col("score_r") >= 0.5)
        .orderBy(col("doc_id"))
    }, Fitted((s, d) => qualityLrOracleSql(qlrModel(s, d)))),

    // sequence-packing planner: bucket docs by token count (power-of-2
    // thresholds — fixed, not data-driven, so bucket edges are exact
    // integers cross-engine) and report per-bucket pad waste at
    // seq_len=64. The answer to "what does padding cost us and which
    // length band should we pack first" before a packing run
    // (q_pack_tokens is the packer; this is its planning view). Pure
    // integer arithmetic, one map pass + one 6-row aggregate.
    // Token-budget curriculum sampler (VERDICT r13 Next #7c — the
    // composition the mixing tier lacked): a global token budget
    // B = ⌊T/5⌋ is apportioned across sources by TOKEN MASS with exact
    // Hamilton largest-remainder (the Mix.apportionLargestRemainder
    // arithmetic generalized to weighted shares, DECIMAL(38,0) products
    // so tk·B can't overflow at corpus scale), then each source admits
    // docs in (quality desc, doc_id) order until its allocation is
    // spent — the in-source prefix sum is Rank.withRunningTotal over
    // the ONE global (source, -q, id) total order minus broadcast
    // per-source start offsets (the q_weighted_median discipline; never
    // a |sources|-parallel window). A doc is admitted iff its INCLUSIVE
    // token cum fits the allocation. Everything integer; the one
    // reported ratio is ratio6.
    Query("q_token_curriculum", (s, d) => {
      val base = docs(s, d).select(col("doc_id"), col("source"),
        TextAnalysis.tokenCountWs(col("text")).as("n_tok"),
        round(TextAnalysis.qualityScore(col("text")), 6).as("q"))
      val st = base.groupBy(col("source")).agg(sum(col("n_tok")).as("tk"))
      val tot = st.agg(sum(col("tk")).as("t_all"))
      val dec = (c: Column) => c.cast("decimal(38,0)")
      // exact floor division (the ExactRatio trick): subtract the pmod
      // remainder first, so the decimal division's scale-6 HALF_UP
      // rounding is a no-op (the true quotient IS an integer)
      val alExact = st.crossJoin(broadcast(tot))
        .withColumn("b_all", expr("t_all div 5"))
        .withColumn("rem", pmod(dec(col("tk")) * dec(col("b_all")),
          dec(col("t_all"))))
        .withColumn("fl", ((dec(col("tk")) * dec(col("b_all")) - col("rem")) /
          dec(col("t_all"))).cast("decimal(38,0)").cast("long"))
      val allocated = alExact.agg(sum(col("fl")).as("afl"))
      val wRem = Window.orderBy(col("rem").desc, col("source"))
      val targets = alExact.withColumn("rk", row_number().over(wRem).cast("long"))
        .crossJoin(broadcast(allocated))
        .withColumn("alloc", col("fl") +
          when(col("rk") <= col("b_all") - col("afl"), 1L).otherwise(0L))
        .select(col("source"), col("tk"), col("alloc"))
      val (run, _) = graft.operators.Rank.withRunningTotal(
        base, "cum", "n_tok", col("source"), col("q").desc, col("doc_id"))
      val starts = run.groupBy(col("source"))
        .agg(min(col("cum") - col("n_tok")).as("start"))
      run.join(broadcast(starts), Seq("source"))
        .join(broadcast(targets), Seq("source"))
        .withColumn("adm", (col("cum") - col("start")) <= col("alloc"))
        .groupBy(col("source"))
        .agg(min(col("tk")).as("tokens_total"),
          min(col("alloc")).as("alloc"),
          sum(when(col("adm"), 1L).otherwise(0L)).as("n_admitted"),
          sum(when(col("adm"), col("n_tok")).otherwise(0L))
            .as("tokens_admitted"))
        .select(col("source"), col("tokens_total"), col("alloc"),
          col("n_admitted"), col("tokens_admitted"),
          when(col("alloc") === 0, lit(0.0))
            .otherwise(ratio6(col("tokens_admitted"), col("alloc")))
            .as("fill_r"))
        .orderBy(col("source"))
    }, Sql(
      // Hamilton apportionment in HUGEINT + the same per-source
      // quality-descending prefix admission; ws-split token twin
      s"""WITH raw AS (
         |  SELECT doc_id, source, text, $duckToks AS toks,
         |    CAST(length(text) AS DOUBLE) AS nchar
         |  FROM documents),
         |base AS (
         |  SELECT doc_id, source,
         |    CAST(len(list_filter(string_split_regex(text, '\\s+'),
         |      t -> len(t) > 0)) AS BIGINT) AS n_tok,
         |    $duckQuality AS q
         |  FROM raw),
         |st AS (SELECT source, CAST(SUM(n_tok) AS BIGINT) AS tk
         |       FROM base GROUP BY 1),
         |tt AS (SELECT CAST(SUM(tk) AS BIGINT) AS t_all FROM st),
         |alx AS (
         |  SELECT source, tk, t_all // 5 AS b_all,
         |    (CAST(tk AS HUGEINT) * (t_all // 5)) // CAST(t_all AS HUGEINT)
         |      AS fl,
         |    (CAST(tk AS HUGEINT) * (t_all // 5)) % CAST(t_all AS HUGEINT)
         |      AS rem
         |  FROM st, tt),
         |ad AS (SELECT SUM(fl) AS afl FROM alx),
         |tg AS (
         |  SELECT source, tk,
         |    CAST(fl + CASE WHEN ROW_NUMBER() OVER (ORDER BY rem DESC, source)
         |        <= b_all - afl THEN 1 ELSE 0 END AS BIGINT) AS alloc
         |  FROM alx, ad),
         |run AS (
         |  SELECT source, n_tok,
         |    SUM(n_tok) OVER (PARTITION BY source ORDER BY q DESC, doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |  FROM base),
         |adm AS (
         |  SELECT r.source, r.n_tok, t.alloc, t.tk,
         |    r.cum <= t.alloc AS a
         |  FROM run r JOIN tg t USING (source))
         |SELECT source, MIN(tk) AS tokens_total, MIN(alloc) AS alloc,
         |  CAST(SUM(CASE WHEN a THEN 1 ELSE 0 END) AS BIGINT) AS n_admitted,
         |  CAST(SUM(CASE WHEN a THEN n_tok ELSE 0 END) AS BIGINT)
         |    AS tokens_admitted,
         |  CASE WHEN MIN(alloc) = 0 THEN 0.0
         |       ELSE ${ratio6Sql(
                  "SUM(CASE WHEN a THEN n_tok ELSE 0 END)", "MIN(alloc)")}
         |  END AS fill_r
         |FROM adm GROUP BY source ORDER BY source""".stripMargin)),

    Query("q_seq_len_plan", (s, d) => {
      val n = size(Dedup.tokens(col("text"))).cast("long")
      val bucket = when(n <= 16, "a_le16").when(n <= 32, "b_le32")
        .when(n <= 64, "c_le64").when(n <= 128, "d_le128")
        .when(n <= 256, "e_le256").otherwise("f_gt256")
      val pad = floor((n + lit(63)) / lit(64)).cast("long") * 64 - n
      docs(s, d)
        .select(bucket.as("bucket"), n.as("n_tok"), pad.as("pad"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("sum_tok"),
          sum(col("pad")).as("sum_pad"),
          round(sum(col("n_tok")).cast("double") /
            (sum(col("n_tok")) + sum(col("pad"))).cast("double"), 6)
            .as("fill_ratio"))
        .orderBy(col("bucket"))
    }, Sql(
      s"""WITH t AS (
         |  SELECT len($duckToks) AS n_tok FROM documents
         |), b AS (
         |  SELECT CAST(n_tok AS BIGINT) AS n_tok,
         |    CASE WHEN n_tok <= 16 THEN 'a_le16' WHEN n_tok <= 32 THEN 'b_le32'
         |         WHEN n_tok <= 64 THEN 'c_le64' WHEN n_tok <= 128 THEN 'd_le128'
         |         WHEN n_tok <= 256 THEN 'e_le256' ELSE 'f_gt256' END AS bucket,
         |    ((n_tok + 63) // 64) * 64 - n_tok AS pad
         |  FROM t
         |)
         |SELECT bucket, COUNT(*) AS n_docs,
         |  CAST(SUM(n_tok) AS BIGINT) AS sum_tok,
         |  CAST(SUM(pad) AS BIGINT) AS sum_pad,
         |  ${ratio6Sql("SUM(n_tok)", "SUM(n_tok) + SUM(pad)")} AS fill_ratio
         |FROM b GROUP BY bucket ORDER BY bucket""".stripMargin))
  )

  /** One greedy BPE merge round as generated DuckDB CTEs — the EXACT
    * twin of [[graft.operators.TextAnalysis]]'s mergePairIn / localBpe
    * greedy left-to-right non-overlapping rewrite, expressed without a
    * sequential fold (the r13 list_reduce struct-state trap): a
    * candidate position is TAKEN iff its run of consecutive candidates
    * has odd length ending there (consecutive candidates only occur
    * when left = right, and greedy takes the 1st, 3rd, … of each run).
    * `prev` is the previous round's symbol relation (wid, freq, syms);
    * `aExpr`/`bExpr` name the round's merge pair (an m-CTE column for
    * the training replay, a string literal for the encode replay).
    * Every s-CTE is MATERIALIZED — s{k} is read by both the next pair
    * count and the next rewrite, and 10 chained re-evaluations would
    * compound exponentially (SKILL r12 trap).
    */
  private def bpeRoundCtes(k: Int, prev: String, aExpr: String,
      bExpr: String, fromExtra: String): String =
    s"""c$k AS (
       |  SELECT wid, freq, syms, $aExpr AS a, $bExpr AS b,
       |    [syms[i] = $aExpr AND syms[i+1] = $bExpr
       |      FOR i IN range(1, len(syms))] AS cand
       |  FROM $prev$fromExtra),
       |t$k AS (
       |  SELECT wid, freq, syms, a, b,
       |    [cand[i] AND ((i - COALESCE(list_max(
       |        [j FOR j IN range(1, i) IF NOT cand[j]]), 0)) % 2) = 1
       |      FOR i IN range(1, len(cand) + 1)] AS tk
       |  FROM c$k),
       |s$k AS MATERIALIZED (
       |  SELECT wid, freq,
       |    flatten([CASE
       |        WHEN i <= len(tk) AND tk[i] THEN [a || b]
       |        WHEN i > 1 AND tk[i-1] THEN CAST([] AS VARCHAR[])
       |        ELSE [syms[i]] END
       |      FOR i IN range(1, len(syms) + 1)]) AS syms
       |  FROM t$k)""".stripMargin

  /** The q_bpe_vocab STATIC oracle: the full 10-round training loop
    * replayed in DuckDB — per round, adjacent-pair counts weighted by
    * word freq, argmax with the engine's exact tie-break (pf DESC, l, r
    * in binary collation = Spark's unsigned-UTF-8 order), then the
    * greedy rewrite above. If a round finds no pair (m{k} empty) every
    * later round's relations are empty and exactly the engine's
    * `exhausted` prefix of merges is emitted.
    */
  private[queries] def bpeVocabOracleSql: String = {
    val rounds = (1 to 10).map { k =>
      s"""p$k AS (
         |  SELECT pr.l AS l, pr.r AS r, CAST(SUM(freq) AS BIGINT) AS pf
         |  FROM (SELECT freq,
         |      UNNEST([{'l': syms[i], 'r': syms[i+1]}
         |        FOR i IN range(1, len(syms))]) AS pr
         |    FROM s${k - 1} WHERE len(syms) >= 2)
         |  GROUP BY pr.l, pr.r),
         |m$k AS MATERIALIZED (
         |  SELECT l, r, pf FROM p$k ORDER BY pf DESC, l, r LIMIT 1),
         |${bpeRoundCtes(k, s"s${k - 1}", "m.l", "m.r", s", m$k m")}"""
        .stripMargin
    }.mkString(",\n")
    val union = (1 to 10).map { k =>
      s"""SELECT CAST($k AS BIGINT) AS round, l AS "left", r AS "right",
         |    l || r AS merged, pf AS pair_freq FROM m$k""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH vocab AS (
       |  SELECT w, CAST(COUNT(*) AS BIGINT) AS freq
       |  FROM (SELECT UNNEST($duckToks) AS w FROM documents)
       |  GROUP BY w),
       |s0 AS MATERIALIZED (
       |  SELECT w AS wid, freq,
       |    [w[i] FOR i IN range(1, len(w) + 1)] AS syms
       |  FROM vocab WHERE len(w) > 0),
       |$rounds
       |SELECT * FROM (
       |$union
       |) ORDER BY round""".stripMargin
  }

  /** The q_bpe_tokenize DYNAMIC oracle: the fitted merge table embedded
    * as string literals (a pure function of (corpus, config) — the
    * qualityLrOracleSql argument), then the encode replayed per DISTINCT
    * word with the same greedy rounds and flattened back over each
    * document's token sequence in order.
    */
  private def bpeTokenizeOracleSql(merges: Seq[(String, String)]): String = {
    def slit(x: String): String = "'" + x.replace("'", "''") + "'"
    val rounds = merges.zipWithIndex.map { case ((a, b), i) =>
      bpeRoundCtes(i + 1, s"s$i", slit(a), slit(b), "")
    }.mkString(",\n")
    val last = s"s${merges.length}"
    s"""WITH words AS (
       |  SELECT DISTINCT w
       |  FROM (SELECT UNNEST($duckToks) AS w FROM documents)
       |  WHERE len(w) > 0),
       |s0 AS MATERIALIZED (
       |  SELECT w AS wid, CAST(1 AS BIGINT) AS freq,
       |    [w[i] FOR i IN range(1, len(w) + 1)] AS syms
       |  FROM words),
       |$rounds,
       |dt AS (
       |  SELECT doc_id, UNNEST($duckToks) AS w,
       |    UNNEST(range(1, len($duckToks) + 1)) AS pos
       |  FROM documents),
       |j AS (SELECT dt.doc_id, dt.pos, e.syms
       |      FROM dt JOIN $last e ON dt.w = e.wid),
       |ag AS (SELECT doc_id, flatten(list(syms ORDER BY pos)) AS sub
       |       FROM j GROUP BY doc_id)
       |SELECT d.doc_id,
       |  CAST(COALESCE(len(sub), 0) AS BIGINT) AS n_subwords,
       |  md5(COALESCE(array_to_string(sub, ' '), '')) AS subword_hash
       |FROM documents d LEFT JOIN ag USING (doc_id)
       |ORDER BY d.doc_id""".stripMargin
  }

  /** SQL double literal with exact round-trip (shortest repr parses back
    * to the identical double in DuckDB).
    */
  private def dlit(x: Double): String =
    s"CAST('${java.lang.Double.toString(x)}' AS DOUBLE)"

  /** The [[graft.operators.TextAnalysis.qualityLrScore]] twin: replays
    * feature extraction (the proven duckToks/punct/stop twins + per-code
    * [A-Z] and summed token length) and the sigmoid over the trained
    * weights embedded as literals, in the ENGINE's exact fold order
    * (intercept + w0·f0 + w1·f1 + … left-assoc). Feature order is owned
    * by TextStats.langs on both sides — generated from the same array,
    * so it cannot drift.
    */
  private def qualityLrOracleSql(
      m: graft.operators.TextAnalysis.QualityLrModel): String = {
    def wordList(ws: Iterable[String]): String =
      ws.toSeq.sorted.map(w => s"'$w'").mkString("[", ",", "]")
    val stopList = wordList(graft.operators.TextAnalysis.enStopwords)
    val fs = Seq(
      s"(CASE WHEN nchar = 0 THEN 0.0 ELSE len(regexp_extract_all(text, '[[:punct:]]')) / nchar END)",
      s"(CASE WHEN nchar = 0 THEN 0.0 ELSE len(regexp_extract_all(text, '[A-Z]')) / nchar END)",
      s"(CASE WHEN ntok = 0 THEN 0.0 ELSE len(list_filter(toks, x -> list_contains($stopList, x))) / ntok END)",
      s"(CASE WHEN ntok = 0 THEN 0.0 ELSE len(array_to_string(toks, '')) / ntok END)",
      s"ln(nchar + 1.0)") ++
      graft.functions.TextStats.langs.map { case (_, ws) =>
        s"(CASE WHEN ntok = 0 THEN 0.0 ELSE len(list_filter(toks, x -> list_contains(${wordList(ws)}, x))) / ntok END)"
      }
    require(fs.length == m.weights.length,
      s"feature/weight arity: ${fs.length} vs ${m.weights.length}")
    val z = m.weights.zip(fs).foldLeft(dlit(m.intercept)) {
      case (acc, (w, f)) => s"$acc + ${dlit(w)} * $f"
    }
    s"""WITH t AS (
       |  SELECT doc_id, text, $duckToks AS toks,
       |    CAST(length(text) AS DOUBLE) AS nchar
       |  FROM documents),
       |f AS (
       |  SELECT doc_id, text, toks, nchar,
       |    CAST(len(toks) AS DOUBLE) AS ntok
       |  FROM t)
       |SELECT doc_id,
       |  ROUND(1.0 / (1.0 + exp(-($z))), 6) AS score_r,
       |  ROUND(1.0 / (1.0 + exp(-($z))), 6) >= 0.5 AS pred_keep
       |FROM f ORDER BY doc_id""".stripMargin
  }
}
