package graft.operators

import graft.functions.TextHashFunctions
import graft.functions.VectorFunctions._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** Document deduplication for training-data pipelines: exact,
  * MinHash+LSH (Jaccard), SimHash (Hamming), n-gram Jaccard, and
  * embedding-cosine near-dup.
  *
  * Scale shapes:
  *  - exact: one hash-shuffle on the content hash; winner-per-group via
  *    min(), not a window over the full data;
  *  - MinHash LSH: per-doc signature (map-only) → explode to bands
  *    (×bands rows) → shuffle on (band, bucket) → pair-join inside
  *    buckets only. Never an all-pairs cross join;
  *  - verification (exact Jaccard / cosine) runs on candidate pairs only.
  */
object Dedup {

  /** Normalized word tokens: lowercase, strip non-alphanumerics, split. */
  def tokens(text: Column): Column =
    filter(split(lower(regexp_replace(text, "[^\\p{L}\\p{N}\\s]", " ")), "\\s+"),
      t => length(t) > 0)

  /** Word n-gram shingles (distinct). Token-less documents (empty or
    * punctuation-only text) yield an EMPTY shingle set — [""] would
    * band-collide every junk doc with every other junk doc and report
    * spurious jaccard-1.0 near-dup pairs (O(m²) of them).
    *
    * Fused single-pass expression ([[TextHashFunctions.ShingleSet]]): the
    * composable `transform(sequence(...), i -> concat_ws(slice(toks)))`
    * form re-evaluates the whole tokenizer inside every lambda invocation
    * (one regex pass per shingle INDEX — Catalyst HOF semantics), which
    * made shingling the dominant cost of the minhash path.
    */
  def shingles(text: Column, n: Int): Column =
    TextHashFunctions.shingle_set(text, n)

  /** Exact dedup: group rows by a content hash, keep the smallest id
    * (deterministic canonical winner). Returns the surviving rows' ids +
    * group size. (SURVEY §7.1 module 6; `dropDuplicates` keeps an
    * ARBITRARY row — unacceptable for a reproducible pipeline, so min-id
    * it is.)
    */
  def exactDedup(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    docs.groupBy(md5(col(textCol)).as("content_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Incremental exact dedup — the corpus-MAINTENANCE form: a new ingest
    * batch dedups against (a) itself (min-id winner per content hash, as
    * [[exactDedup]]) and (b) the historical fingerprint INDEX, without
    * touching historical text. At 100 TB the index is the compact
    * artifact that persists between ingests (one hash + keep_id per
    * surviving doc — store it bucketed by `content_hash` and the
    * anti-join below is co-located, shuffle-free); each ingest costs one
    * aggregate over the BATCH plus one anti-join against the index, and
    * the survivors' hashes append to the index for the next ingest.
    * Near-dup incrementality composes the same way with a persisted
    * minhash band-bucket index in place of the hash column.
    */
  def incrementalDedup(newDocs: DataFrame, knownHashes: DataFrame,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    exactDedup(newDocs, textCol, idCol)
      .join(knownHashes.select(col("content_hash")), Seq("content_hash"), "left_anti")

  /** Persistable MinHash index of a corpus, as TWO relations — the shape
    * that survives 100 TB:
    *  - `buckets(band, bucket, id)`: ids-only rows (×bands per doc),
    *    capped at `maxBucket` ids per (band, bucket) (same hot-bucket
    *    bound as [[bucketPairs]]: an adversarial bucket must not make
    *    every future batch pay O(bucket) candidates);
    *  - `content(id, sh)`: ONE shingle set per doc.
    * Folding `sh` into the bucket rows would store it ×bands and drag
    * arrays through every replicated (band, bucket) join — the exact
    * anti-pattern [[minhashCandidates]]' scaladoc documents. Built ONCE,
    * persisted as parquet; every incoming batch joins against it — the
    * near-dup twin of the exact-hash index [[incrementalDedup]] uses.
    */
  final case class MinhashIndex(buckets: DataFrame, content: DataFrame)

  def minhashIndex(corpus: DataFrame, nShingle: Int = 3, bands: Int = 8,
      rowsPerBand: Int = 4, maxBucket: Int = 256,
      textCol: String = "text", idCol: String = "doc_id"): MinhashIndex = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("band"), col("bucket")).orderBy(col("id"))
    val buckets = minhashBuckets(corpus, nShingle, bands, rowsPerBand, textCol, idCol)
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= maxBucket).drop("__rn")
    val content = corpus
      .select(col(idCol).as("id"), shingles(col(textCol), nShingle).as("sh"))
      .groupBy(col("id")).agg(first(col("sh")).as("sh"))
    MinhashIndex(buckets, content)
  }

  /** Near-dups of a NEW batch against an existing [[minhashIndex]] —
    * corpus maintenance without re-banding the corpus: the batch's
    * bucket rows (map-only, small — broadcastable) hash-join the index
    * buckets on (band, bucket) with IDS ONLY riding the replicated
    * join, candidates dedupe to (new_id, corpus_id), and the exact
    * Jaccard verify fetches each side's shingles by id — corpus
    * shingles shuffle only for MATCHED ids, never the whole index.
    * Returns pairs at `threshold`+ with their jaccard. Same banding ⇒
    * same collisions as a full-corpus run restricted to (new × corpus)
    * — asserted in DedupSimilaritySpec.
    */
  def incrementalNearDup(newDocs: DataFrame, index: MinhashIndex,
      threshold: Double, nShingle: Int = 3, bands: Int = 8,
      rowsPerBand: Int = 4, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val batchBuckets =
      minhashBuckets(newDocs, nShingle, bands, rowsPerBand, textCol, idCol)
        .select(col("band"), col("bucket"), col("id").as("new_id"))
    val batchContent = newDocs
      .select(col(idCol).as("new_id"), shingles(col(textCol), nShingle).as("sh_n"))
      .groupBy(col("new_id")).agg(first(col("sh_n")).as("sh_n"))
    val cands = batchBuckets
      .join(index.buckets.select(col("band"), col("bucket"),
        col("id").as("corpus_id")), Seq("band", "bucket"))
      .select(col("new_id"), col("corpus_id")).distinct()
    cands
      .join(index.content.select(col("id").as("corpus_id"), col("sh").as("sh_c")),
        Seq("corpus_id"))
      .join(batchContent, Seq("new_id"))
      .withColumn("jaccard", jaccard(col("sh_n"), col("sh_c")))
      .filter(col("jaccard") >= threshold)
      .select(col("new_id"), col("corpus_id"), col("jaccard"))
  }

  /** The (band, bucket, id) bucket relation of the MinHash banding —
    * exposed so [[bucketStats]] can audit the REAL banding's health
    * (q_minhash_bucket_health), not just a stand-in.
    */
  def minhashBuckets(
      docs: DataFrame, nShingle: Int = 3, bands: Int = 8, rowsPerBand: Int = 4,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    docs.select(col(idCol).as("id"),
      posexplode(TextHashFunctions.minhash_band_buckets(
        shingles(col(textCol), nShingle), bands, rowsPerBand))
        .as(Seq("band", "bucket")))

  /** MinHash LSH candidate pairs: docs whose signatures collide in ≥1 band,
    * with the exact Jaccard of their shingle sets attached for
    * thresholding. `bands × rowsPerBand = k` hash functions.
    */
  def minhashCandidates(
      docs: DataFrame, nShingle: Int = 3, bands: Int = 8, rowsPerBand: Int = 4,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    // band buckets via ONE fused expression (tokens touched once per hash
    // fn) — the composable transform/array_min pipeline re-evaluates the
    // tokenizer inside every lambda (see MinHashBandBuckets scaladoc;
    // observed 128 tokenizations/doc). Bucket rows carry bare ids only:
    // shingle arrays must not ride the ×bands replicated shuffle.
    val banded = minhashBuckets(docs, nShingle, bands, rowsPerBand, textCol, idCol)
    val pairs = bucketPairs(banded)
    // aggregate barrier (id is unique, first() is a no-op): without it
    // CollapseProject inlines the shingles() expression ABOVE the pair
    // join and tokenization runs once per PAIR instead of once per doc
    // (observed 3× bench regression). The barrier pins one computation
    // per doc; the arrays then shuffle once on id — the intended shape.
    val content = docs
      .select(col(idCol).as("id"), shingles(col(textCol), nShingle).as("sh"))
      .groupBy(col("id")).agg(first(col("sh")).as("sh"))
    pairs
      .join(content.select(col("id").as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
      .join(content.select(col("id").as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
      .withColumn("jaccard", jaccard(col("sh_a"), col("sh_b")))
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** All unordered id pairs that share a (band, bucket) — the LSH
    * candidate set, via ONE groupBy over the bucket rows. A banded
    * self-join would re-run the whole signature computation for the
    * second join branch (identical plan but no exchange to reuse at that
    * point) and shuffle the replicated corpus twice; here signatures are
    * computed once and only bare ids ride the shuffle. The in-bucket pair
    * expansion is a lambda over the collected id list: `ids` is a plain
    * attribute after the aggregate barrier, so Catalyst HOF re-evaluation
    * is field access, not recomputation.
    *
    * Hot buckets are BOUNDED: a mis-tuned banding or an adversarial/junk
    * corpus can funnel millions of ids into one (band, bucket), and an
    * unbounded `collect_set` builds that whole set in a single task
    * (OOM), then explodes O(n²) pairs from it. Each bucket is therefore
    * capped at `maxBucket` ids BEFORE collection: a `row_number` window
    * over the same (band, bucket) keys the aggregate shuffles on — so it
    * adds no exchange, and its sort spills to disk where a collect
    * cannot — and only the `maxBucket` smallest ids enter the O(n²) pair
    * expansion. Ids BEYOND the cap are not dropped: each overflow id is
    * emitted as one (bucket_min_id, id) pair — a star-attach to the
    * bucket's canonical min id. That keeps per-bucket pair count at
    * O(cap² + n) instead of O(n²) while still DEMOTING every overflow id
    * (without it, a near-dup cluster larger than the cap would keep its
    * overflow members as false uniques: identical signatures put the
    * same smallest ids in every band, so no other band rescues them).
    * Truncation is observable via [[bucketStats]] over the same bucket
    * rows — a nonzero `n_truncated` means the banding parameters admit
    * pairs far below the intended threshold and need retuning, which is
    * the correct response to a hot bucket (capping only bounds the blast
    * radius; it cannot make a degenerate banding selective).
    *
    * Precondition: (band, bucket, id) rows are distinct per producer
    * (true for every banding in this repo — one row per id per band);
    * duplicate rows would waste cap slots.
    *
    * @param buckets   (band, bucket, id) rows
    * @param maxBucket per-bucket cap on the quadratic pair expansion
    *                  (default 256 → ≤ 32,640 expanded pairs per bucket
    *                  plus one star pair per overflow id)
    */
  def bucketPairs(buckets: DataFrame, maxBucket: Int = 256): DataFrame =
    cappedKeyedPairs(buckets, Seq("band", "bucket"), "id", maxBucket,
      "id_a", "id_b")
      .select(col("id_a"), col("id_b"))
      // the same pair legitimately surfaces in several bands
      .dropDuplicates("id_a", "id_b")

  /** The ONE capped hot-group pairing mechanism both [[bucketPairs]]
    * (LSH band buckets) and [[blockedPairs]] (value-keyed entity-
    * resolution blocks) ride — factored so the cap/overflow algebra
    * can't drift between the two call sites (the [[Guarded.iterate]]
    * rationale). Per partition-key group, in `valueCol` order: the
    * first `cap` members pair fully pairwise (sorted-array expansion
    * after an aggregation barrier — see the HOF re-evaluation trap in
    * the verify notes), and every overflow member star-attaches to the
    * group's minimum member. The running min rides the SAME window as
    * the cap rank: one sort, no extra exchange. Returns the key
    * columns + `(outA, outB)` with `outA < outB` per expanded row;
    * overflow rows pair (group min, overflow member) and can never
    * duplicate an expanded row (the overflow member's rank > cap keeps
    * it out of the expansion set).
    */
  private def cappedKeyedPairs(rows: DataFrame, keys: Seq[String],
      valueCol: String, cap: Int, outA: String, outB: String): DataFrame = {
    val kcols = keys.map(col)
    val w = Window.partitionBy(kcols: _*).orderBy(col(valueCol))
    val numbered = rows
      .withColumn("__rn", row_number().over(w))
      .withColumn("__mn", min(col(valueCol)).over(w))
    val expanded = numbered
      .filter(col("__rn") <= cap)
      .groupBy(kcols: _*)
      .agg(sort_array(collect_set(col(valueCol))).as("__vs"))
      .filter(size(col("__vs")) > 1)
      .select(kcols :+ explode(flatten(transform(col("__vs"), (x, i) =>
        transform(slice(col("__vs"), i + 2, size(col("__vs"))),
          y => struct(x.as(outA), y.as(outB)))))).as("__p"): _*)
      .select(kcols :+ col(s"__p.$outA").as(outA) :+
        col(s"__p.$outB").as(outB): _*)
    // overflow star pairs: map-side projection of the already-numbered
    // rows — no aggregation, bounded state, O(overflow) rows
    val overflow = numbered
      .filter(col("__rn") > cap)
      .select(kcols :+ col("__mn").as(outA) :+ col(valueCol).as(outB): _*)
    expanded.union(overflow)
  }

  /** Capped blocked candidate pairs for fuzzy matching / entity
    * resolution — [[bucketPairs]]' hot-bucket discipline applied to a
    * VALUE-keyed block relation `(blockCol, valueCol)` (assumed distinct
    * pairs; callers `.distinct()` first). Within each block: full
    * pairwise expansion over the FIRST `maxBlock` members in `valueCol`
    * order (deterministic cross-engine — it is a plain ORDER BY), plus a
    * star-attach of every overflow member to the block's minimum member,
    * so overflow keeps one-comparison recall instead of dropping out.
    *
    * This cap is what makes blocking scale-SAFE rather than merely
    * scale-plausible: a block key with cardinality independent of n
    * (e.g. TPC-H `p_name`'s last token — ≤92 color words, so at 100×
    * rows every block is 100× larger) turns uncapped in-block expansion
    * into O(n²); with the cap, per-block cost is bounded at O(maxBlock²)
    * + O(overflow) for ANY data size. The SQL mirror (q_fuzzy_parts's
    * oracle) reproduces the cap with ROW_NUMBER over the same ordering,
    * so the capped semantics — not just the easy uncapped ones — are
    * what the cross-engine gate verifies. Returns `(blockCol, a, b)`
    * with `a < b` per row.
    */
  def blockedPairs(rows: DataFrame, blockCol: String = "block",
      valueCol: String = "v", maxBlock: Int = 1000): DataFrame =
    cappedKeyedPairs(rows, Seq(blockCol), valueCol, maxBlock, "a", "b")

  /** (band, bucket, id) rows of a 4×16-bit banded perceptual hash
    * relation `(media_id, b0..b3)` — the [[minhashBuckets]] shape for
    * multimodal hashes ([[Multimodal.imageAHash]] /
    * [[Multimodal.audioAHash]]): exact-match 16-bit band buckets are
    * LOSSLESS for hamming ≤ 3 by pigeonhole (4 bands, ≤3 differing bits
    * ⇒ some band matches exactly). ONE definition shared by the batch
    * dup queries, the persisted index, and the specs so the banding
    * can't drift.
    */
  def bandHashBuckets(hashes: DataFrame, idCol: String = "media_id"): DataFrame =
    hashes.select(col(idCol).as("id"),
      explode(array((0 to 3).map(t =>
        struct(lit(t.toLong).as("band"), col(s"b$t").as("bucket"))): _*))
        .as("e"))
      .select(col("e.band").as("band"), col("e.bucket").as("bucket"),
        col("id"))

  /** Persistable banded-hash index of a media corpus — the
    * [[MinhashIndex]] pattern for perceptual hashes, TWO relations:
    *  - `buckets(band, bucket, id)`: ids-only, capped at `maxBucket`
    *    ids per (band, bucket) (hot-bucket bound — an adversarial
    *    bucket must not make every future batch pay O(bucket));
    *  - `hashes(id, b0..b3)`: one hash row per media item, for the
    *    exact hamming verify.
    * Built once from decoded media, persisted as parquet; incoming
    * batches join against it — multimodal dedup becomes MAINTAINABLE
    * (probe + append) instead of rebuild-only (VERDICT r15 Next #5).
    *
    * Maintenance contract: appends do NOT re-cap — a hot bucket grows
    * until the next compaction (re-run [[bandHashIndex]] over the hash
    * relation, the IVF maintainIvfPqIndex pattern). Probe cost stays
    * bounded meanwhile because the batch side is small and candidates
    * dedupe before the verify; INTAKE_SOAK_r16's image_index family
    * measures the curve flat (1.39 → 1.44 s/batch) across a 16× index
    * grow-out.
    */
  final case class BandHashIndex(buckets: DataFrame, hashes: DataFrame)

  def bandHashIndex(hashes: DataFrame, maxBucket: Int = 256,
      idCol: String = "media_id"): BandHashIndex = {
    val w = Window.partitionBy(col("band"), col("bucket")).orderBy(col("id"))
    val buckets = bandHashBuckets(hashes, idCol)
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= maxBucket).drop("__rn")
    BandHashIndex(buckets,
      hashes.select(col(idCol).as("id"), col("b0"), col("b1"), col("b2"),
        col("b3")))
  }

  /** Near-dups of a NEW media batch's hashes against an existing
    * [[bandHashIndex]] — corpus maintenance without re-hashing the
    * corpus (the [[incrementalNearDup]] shape): the batch's bucket rows
    * (map-only, small) hash-join the index buckets on (band, bucket)
    * with IDS ONLY riding the replicated join, candidates dedupe to
    * (new_id, corpus_id), and the exact hamming verify fetches each
    * side's 4 bands by id — corpus hashes shuffle only for MATCHED ids.
    * Returns pairs at hamming ≤ `maxHamming` (lossless for ≤ 3 under
    * the 4-band split). Same banding ⇒ same collisions as a full-corpus
    * run restricted to (new × corpus) — asserted in RecommendSpec.
    */
  def incrementalBandedDedup(newHashes: DataFrame, index: BandHashIndex,
      maxHamming: Int = 3, idCol: String = "media_id"): DataFrame = {
    val hx = (t: Int) => graft.functions.TextHashFunctions
      .hamming64(col(s"a$t"), col(s"z$t")).cast("long")
    val cands = bandHashBuckets(newHashes, idCol)
      .select(col("band"), col("bucket"), col("id").as("new_id"))
      .join(index.buckets.select(col("band"), col("bucket"),
        col("id").as("corpus_id")), Seq("band", "bucket"))
      .select(col("new_id"), col("corpus_id")).distinct()
    cands
      .join(newHashes.select(col(idCol).as("new_id"), col("b0").as("a0"),
        col("b1").as("a1"), col("b2").as("a2"), col("b3").as("a3")),
        Seq("new_id"))
      .join(index.hashes.select(col("id").as("corpus_id"),
        col("b0").as("z0"), col("b1").as("z1"), col("b2").as("z2"),
        col("b3").as("z3")), Seq("corpus_id"))
      .withColumn("hamming", hx(0) + hx(1) + hx(2) + hx(3))
      .filter(col("hamming") <= maxHamming)
      .select(col("new_id"), col("corpus_id"), col("hamming"))
  }

  /** Batch near-dup pairs over a 4×16-bit banded hash relation: banded
    * candidates via [[bucketPairs]] (capped quadratic + overflow
    * star-attach), then the exact hamming verify — the whole
    * q_image_phash_dups / q_audio_phash_dups pipeline as ONE shared
    * definition. Returns (a, b, hamming) with a < b.
    */
  def bandedHashDups(hashes: DataFrame, maxHamming: Int = 3,
      idCol: String = "media_id"): DataFrame = {
    val hx = (t: Int) => graft.functions.TextHashFunctions
      .hamming64(col(s"a$t"), col(s"z$t")).cast("long")
    bucketPairs(bandHashBuckets(hashes, idCol))
      .join(hashes.select(col(idCol).as("id_a"), col("b0").as("a0"),
        col("b1").as("a1"), col("b2").as("a2"), col("b3").as("a3")),
        Seq("id_a"))
      .join(hashes.select(col(idCol).as("id_b"), col("b0").as("z0"),
        col("b1").as("z1"), col("b2").as("z2"), col("b3").as("z3")),
        Seq("id_b"))
      .withColumn("hamming", hx(0) + hx(1) + hx(2) + hx(3))
      .filter(col("hamming") <= maxHamming)
      .select(col("id_a").as("a"), col("id_b").as("b"), col("hamming"))
  }

  /** Side-output health report for a banded bucketing: one row of
    * (n_buckets, max_bucket, n_truncated, ids_dropped) at a given cap.
    * This is the "log line" of [[bucketPairs]] — at 100 TB you run it on
    * the same bucket relation (one count aggregate, trivially cheap next
    * to the pair join) and alert on `n_truncated > 0`.
    */
  def bucketStats(buckets: DataFrame, maxBucket: Int = 256): DataFrame =
    // note: `ids_dropped` counts ids beyond the cap — since the overflow
    // star-attach they are demoted (not lost), but they ARE excluded from
    // the quadratic expansion, so a nonzero value still means "retune"
    buckets
      .groupBy(col("band"), col("bucket"))
      .agg(count(lit(1)).as("n"))
      .agg(
        count(lit(1)).as("n_buckets"),
        max(col("n")).as("max_bucket"),
        sum(when(col("n") > maxBucket, 1L).otherwise(0L)).as("n_truncated"),
        sum(when(col("n") > maxBucket, col("n") - maxBucket).otherwise(0L)).as("ids_dropped"))

  /** Exact Jaccard similarity of two (distinct-element) arrays. */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("double")
    val union = (size(a) + size(b)).cast("double") - inter
    when(union === 0.0, 0.0).otherwise(inter / union)
  }

  /** Near-dup pairs above a Jaccard threshold, via MinHash LSH. */
  def minhashNearDups(docs: DataFrame, threshold: Double = 0.8,
      nShingle: Int = 3, bands: Int = 8, rowsPerBand: Int = 4): DataFrame =
    minhashCandidates(docs, nShingle, bands, rowsPerBand)
      .filter(col("jaccard") >= threshold)

  /** [[minhashNearDups]] over a PRE-SHINGLED checkpointed relation
    * (`(id, shs, sz)` from [[shingleSets]]) — for audits that consume
    * the SAME corpus through several dedup operators (q_lsh_recall runs
    * LSH and the exact PPJoin side by side): one tokenize+shingle pass
    * feeds both instead of each pipeline re-deriving it from text
    * (guide §2.3: don't recompute what a sibling already materialized).
    * Output-identical to the text form: band buckets and exact-verify
    * shingles are the same arrays, and docs with EMPTY shingle sets —
    * the only rows [[shingleSets]] filters — emit no band buckets
    * (MinHashBandBuckets) and can't clear any threshold > 0, so they
    * never appear in either form's pair set.
    */
  def minhashNearDupsFromSets(sets: DataFrame, threshold: Double,
      bands: Int = 8, rowsPerBand: Int = 4): DataFrame = {
    val banded = sets.select(col("id"),
      posexplode(TextHashFunctions.minhash_band_buckets(
        col("shs"), bands, rowsPerBand)).as(Seq("band", "bucket")))
    // no aggregate barrier needed (the minhashCandidates CollapseProject
    // trap): `shs` is a materialized checkpoint column, not an
    // expression that could be inlined per pair
    bucketPairs(banded)
      .join(sets.select(col("id").as("id_a"), col("shs").as("sh_a")),
        Seq("id_a"))
      .join(sets.select(col("id").as("id_b"), col("shs").as("sh_b")),
        Seq("id_b"))
      .withColumn("jaccard", jaccard(col("sh_a"), col("sh_b")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** EXACT set-similarity self-join above a Jaccard threshold via
    * prefix filtering (the PPJoin family — Xiao et al., "Efficient
    * Similarity Joins for Near Duplicate Detection", WWW 2008; public
    * algorithm): the zero-false-negative complement to [[minhashNearDups]]
    * (LSH trades recall for candidate volume; the prefix filter is
    * LOSSLESS, so this join's output IS the ground-truth pair set the
    * LSH recall tests measure against).
    *
    * The threshold is a RATIONAL `tn/td` (e.g. 4/5 for 0.8) so every
    * filter is integer arithmetic — `ceil(t·|x|)` through doubles
    * flips at representation boundaries (0.8·5 = 4.000000000000001 →
    * ceil 5, one prefix token short, a REAL missed-pair bug class),
    * while `(tn·sz + td − 1) div td` is bit-exact on any engine.
    *
    * Candidate discipline (the 100 TB shape):
    *  1. tokens order globally by (document frequency ASC, token) —
    *     rarest first; the order is data-derived but deterministic.
    *  2. each set keeps only its PREFIX — the first
    *     `sz − ceil(t·sz) + 1` tokens in that order. Any pair with
    *     J ≥ t must share a prefix token (else the intersection fits
    *     inside one suffix: ≤ ceil(t·sz) − 1 < t·sz ≤ |A∩B|).
    *  3. candidates = equi-join of the prefix relation with itself on
    *     the token (ids+sizes only — sets join back per candidate),
    *     pre-filtered by the length bound `tn·max(sz) ≤ td·min(sz)`.
    *     Prefix tokens are the globally RAREST members of each set, so
    *     per-token join groups are small by construction — the skew a
    *     raw token join would hit lives in the frequent tokens the
    *     prefix never emits.
    *  4. exact verification: `td·|A∩B| ≥ tn·|A∪B|` — integers again.
    *
    * The prefix relation is checkpointed once (the self-join would
    * otherwise recompute the tokenize+df+window lineage per side — the
    * r3 LSH-self-join lesson). Returns (id_a, id_b, inter, uni,
    * jaccard) with id_a < id_b; empty shingle sets drop out (a
    * token-less doc has J = 0 against everything).
    */
  def prefixJaccardJoin(docs: DataFrame, tn: Int, td: Int,
      nShingle: Int = 3, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame =
    prefixJaccardJoinFromSets(shingleSets(docs, nShingle, textCol, idCol),
      tn, td)

  /** [[prefixJaccardJoin]] over a PRE-SHINGLED checkpointed relation —
    * the [[minhashNearDupsFromSets]] twin, so a multi-operator audit
    * pays the tokenize+shingle+checkpoint pass once. Same body the text
    * form always ran; the text form now just builds the sets first.
    */
  private[graft] def prefixJaccardJoinFromSets(sets: DataFrame,
      tn: Int, td: Int): DataFrame = {
    require(tn > 0 && td > 0 && tn <= td, s"threshold $tn/$td not in (0,1]")
    val dfreq = sets.select(explode(col("shs")).as("g"))
      .groupBy(col("g")).agg(count(lit(1)).as("dfreq"))
    val prefix = prefixOf(sets, dfreq, tn, td)
    // explicit non-coalescable exchanges on the candidate join and the
    // pair dedup: both stages are row-count-bound (per-token fanout,
    // then array_intersect verify) on byte-tiny shuffles, so AQE's
    // size-based coalescing serialized them onto one task (measured
    // r17: the candidate+verify tail was 2 consecutive single-task
    // jobs ≈ 1 s of the 2.9 s line)
    val shuffleN = sets.sparkSession.sessionState.conf.numShufflePartitions
    val cand = prefixPairs(prefix, shuffleN, tn, td)
      .filter(
        posFilter(col("pa"), col("pb"), col("sza"), col("szb"), tn, td))
      .select(col("id_a"), col("id_b"))
      .repartition(shuffleN, col("id_a"), col("id_b"))
      .dropDuplicates("id_a", "id_b")
    verifyJaccard(cand, sets, sets, tn, td, "id_a", "id_b")
  }

  /** The PPJoin prefix self-join: pairs `id_a < id_b` sharing a prefix
    * token `g` whose sizes pass the length filter, with both sizes and
    * prefix positions. The join input is pinned to `shuffleN` hash
    * partitions on `g`.
    */
  private def prefixPairs(prefix: DataFrame, shuffleN: Int,
      tn: Int, td: Int): DataFrame =
    prefix.select(col("g"), col("id").as("id_a"),
        col("sz").as("sza"), col("pos").as("pa"))
      .repartition(shuffleN, col("g"))
      .join(prefix.select(col("g"), col("id").as("id_b"),
        col("sz").as("szb"), col("pos").as("pb")), Seq("g"))
      .filter(col("id_a") < col("id_b") &&
        lit(tn) * greatest(col("sza"), col("szb")) <=
          lit(td) * least(col("sza"), col("szb")))

  /** Incremental PPJoin probe: exact Jaccard ≥ tn/td pairs between an
    * incoming `batch` and the indexed `corpus` ONLY (within-batch and
    * within-corpus pairs are the other operators' jobs — the
    * incrementalNearDup split). The global prefix order is document
    * frequency over corpus ∪ batch; at rest the corpus side's prefix
    * relation is exactly what a persisted ids-only prefix index stores
    * (the MinhashIndex posture), with the ORDER frozen at index-build
    * time — the union-df here is the batch-twin of that artifact.
    * Losslessness needs both sides' prefixes under ONE total order,
    * which both forms satisfy.
    */
  def prefixJaccardProbe(corpus: DataFrame, batch: DataFrame,
      tn: Int, td: Int, nShingle: Int = 3, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    require(tn > 0 && td > 0 && tn <= td, s"threshold $tn/$td not in (0,1]")
    // the two shingle passes and (below) the two prefix builds are
    // INDEPENDENT eager checkpoints — run each pair overlapped from two
    // driver threads (guide §2.6, the q_lsh_recall pattern) instead of
    // serially; neither pipeline's own result depends on the other
    val Seq(cSets, bSets) = Guarded.pinAll(corpus.sparkSession)(Seq(
      () => shingleSets(corpus, nShingle, textCol, idCol),
      () => shingleSets(batch, nShingle, textCol, idCol)))
    val dfreq = cSets.select(explode(col("shs")).as("g"))
      .unionAll(bSets.select(explode(col("shs")).as("g")))
      .groupBy(col("g")).agg(count(lit(1)).as("dfreq"))
      .localCheckpoint(true) // consumed by both prefix builds
    // NOTE deliberately NOT pinned like prefixJaccardJoin's candidate
    // join: the probe's left side is a BATCH (a fraction of the
    // corpus), its fanout is small, and the r17 measurement showed the
    // two extra non-coalescable exchanges cost more in stage overhead
    // than the parallelism bought (q_ssjoin_incremental 1.5→2.3 s with
    // the pins, the one benchdiff flag of the round); the prefixOf rank
    // windows keep their pins — that is where the probe's real CPU is
    val Seq(bPre, cPre) = Guarded.pinAll(corpus.sparkSession)(Seq(
      () => prefixOf(bSets, dfreq, tn, td),
      () => prefixOf(cSets, dfreq, tn, td)))
    val cand = bPre
      .select(col("g"), col("id").as("new_id"), col("sz").as("sza"),
        col("pos").as("pa"))
      .join(cPre
        .select(col("g"), col("id").as("corpus_id"), col("sz").as("szb"),
          col("pos").as("pb")),
        Seq("g"))
      .filter(lit(tn) * greatest(col("sza"), col("szb")) <=
        lit(td) * least(col("sza"), col("szb")) &&
        posFilter(col("pa"), col("pb"), col("sza"), col("szb"), tn, td))
      .select(col("new_id"), col("corpus_id"))
      .dropDuplicates("new_id", "corpus_id")
    verifyJaccard(cand, bSets, cSets, tn, td, "new_id", "corpus_id")
  }

  /** Distinct shingle sets with sizes, checkpointed (every consumer
    * reads it ≥2×: df build, prefix build, verify fetch). Exposed to
    * the query layer so multi-operator audits (q_lsh_recall) can share
    * ONE pass across the LSH and exact pipelines.
    */
  private[graft] def shingleSets(docs: DataFrame, nShingle: Int,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = docs
    .select(col(idCol).as("id"), shingles(col(textCol), nShingle).as("shs"))
    .filter(size(col("shs")) > 0)
    .withColumn("sz", size(col("shs")).cast("long"))
    .localCheckpoint(true)

  /** The rarest-first prefix relation (g, id, sz, pos) — first
    * `sz − ceil(tn·sz/td) + 1` tokens per set in (dfreq, g) order, the
    * integer prefix length; `pos` is the token's 1-based rank in that
    * order (the PPJoin+ position-filter input). Checkpointed: candidate
    * joins read it from both sides.
    */
  private def prefixOf(sets: DataFrame, dfreq: DataFrame,
      tn: Int, td: Int): DataFrame = {
    val wDoc = Window.partitionBy(col("id")).orderBy(col("dfreq"), col("g"))
    val prefixLen =
      col("sz") - floor((lit(tn) * col("sz") + lit(td - 1)) / lit(td)) + 1
    // pin the rank exchange to the session's shuffle width: the ranked
    // token relation is small in BYTES but every downstream stage is
    // row-count-bound CPU (candidate join fanout, verify), and AQE's
    // byte-based coalescing would fold the window AND everything built
    // on this checkpoint onto ONE task (measured r17: the whole
    // PPJoin tail ran single-threaded)
    val shuffleN = sets.sparkSession.sessionState.conf.numShufflePartitions
    sets.select(col("id"), col("sz"), explode(col("shs")).as("g"))
      .join(dfreq, Seq("g"))
      .repartition(shuffleN, col("id"))
      .withColumn("__rn", row_number().over(wDoc))
      .filter(col("__rn") <= prefixLen)
      .select(col("g"), col("id"), col("sz"),
        col("__rn").cast("long").as("pos"))
      .localCheckpoint(true)
  }

  /** PPJoin+ position filter, division-free: on a shared prefix token at
    * 1-based ranks (pa, pb), the remaining possible overlap is bounded by
    * `1 + min(sza − pa, szb − pb)`; Jaccard ≥ tn/td needs overlap ≥
    * ceil(tn·(sza+szb)/(tn+td)), and `a ≥ ceil(x/D) ⟺ a·D ≥ x` keeps the
    * comparison in exact integers (the rational-threshold lesson).
    * LOSSLESS under any-token semantics: a truly-similar pair's FIRST
    * common token (which the prefix theorem puts in both prefixes) has
    * every common token at rank ≥ its own, so the bound holds there.
    */
  private def posFilter(pa: Column, pb: Column, sza: Column, szb: Column,
      tn: Int, td: Int): Column =
    (lit(1L) + least(sza - pa, szb - pb)) * lit((tn + td).toLong) >=
      lit(tn.toLong) * (sza + szb)

  /** Lossless DIRECTIONAL set-containment join: every ordered pair
    * (a, b), a ≠ b, with C(a→b) = |A∩B| / |A| ≥ tn/td — the
    * asymmetric near-dup relation symmetric Jaccard misses (a short
    * doc embedded in a long one; the RefinedWeb-style sub-document
    * dedup primitive). Same PPJoin skeleton as [[prefixJaccardJoin]],
    * adapted to the one-sided threshold:
    *  - the CONTAINED side keeps its rarest-first prefix of size
    *    `sza − ceil(tn·sza/td) + 1` (if no prefix token hits B, the
    *    intersection fits in the suffix: ≤ ceil(tn·sza/td) − 1);
    *  - the CONTAINER side indexes ALL its tokens (containment does
    *    not bound |B| from above, so B cannot prune — the postings
    *    stay small for frequent tokens because the A side only emits
    *    its globally RAREST members);
    *  - length bound tn·sza ≤ td·szb (|A∩B| ≤ |B|), position filter
    *    `(1 + min(sza−pa, szb−pb))·td ≥ tn·sza` (valid at the first
    *    common token in the global order, which the prefix theorem
    *    puts in A's prefix);
    *  - exact verify `td·|A∩B| ≥ tn·sza`.
    * Returns (id_a, id_b, inter, sza, containment) — id_a is the
    * contained doc. Empty shingle sets drop out.
    */
  def prefixContainmentJoin(docs: DataFrame, tn: Int, td: Int,
      nShingle: Int = 3, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    require(tn > 0 && td > 0 && tn <= td, s"threshold $tn/$td not in (0,1]")
    val sets = shingleSets(docs, nShingle, textCol, idCol)
    val dfreq = sets.select(explode(col("shs")).as("g"))
      .groupBy(col("g")).agg(count(lit(1)).as("dfreq"))
    val wDoc = Window.partitionBy(col("id")).orderBy(col("dfreq"), col("g"))
    // ONE ranked-token pass: the container side indexes every token,
    // and the contained side's prefix is just a position filter of the
    // SAME checkpointed relation (prefixOf would tokenize+join+rank a
    // second time; wall-clock is verify-dominated at sf0.1, but this
    // removes a whole tokenize+dfreq-join+rank stage at any scale)
    // pin the rank exchange + candidate/dedup exchanges to the session
    // shuffle width (the prefixOf discipline): every stage from the
    // window to the verify is row-count-bound CPU on byte-tiny
    // shuffles, and AQE's size-based coalescing serialized the whole
    // tail onto one task (measured r17: two consecutive ~1.3-1.5 s
    // single-task jobs in a 4.8 s line)
    val shuffleN = docs.sparkSession.sessionState.conf.numShufflePartitions
    val bAll = sets.select(col("id"), col("sz"), explode(col("shs")).as("g"))
      .join(dfreq, Seq("g"))
      .repartition(shuffleN, col("id"))
      .withColumn("pos", row_number().over(wDoc).cast("long"))
      .select(col("g"), col("id"), col("sz"), col("pos"))
      .localCheckpoint(true)
    val prefixLen = col("sz") -
      floor((lit(tn) * col("sz") + lit(td - 1)) / lit(td)) + 1
    val aPrefix = bAll.filter(col("pos") <= prefixLen)
    val cand = aPrefix.select(col("g"), col("id").as("id_a"),
        col("sz").as("sza"), col("pos").as("pa"))
      .repartition(shuffleN, col("g"))
      .join(bAll.select(col("g"), col("id").as("id_b"),
        col("sz").as("szb"), col("pos").as("pb")), Seq("g"))
      .filter(col("id_a") =!= col("id_b") &&
        lit(tn.toLong) * col("sza") <= lit(td.toLong) * col("szb") &&
        (lit(1L) + least(col("sza") - col("pa"), col("szb") - col("pb"))) *
          lit(td.toLong) >= lit(tn.toLong) * col("sza"))
      .select(col("id_a"), col("id_b"))
      .repartition(shuffleN, col("id_a"), col("id_b"))
      .dropDuplicates("id_a", "id_b")
    cand
      .join(sets.select(col("id").as("id_a"), col("shs").as("sa"),
        col("sz").as("sza")), Seq("id_a"))
      .join(sets.select(col("id").as("id_b"), col("shs").as("sb")),
        Seq("id_b"))
      .withColumn("inter",
        size(array_intersect(col("sa"), col("sb"))).cast("long"))
      .filter(lit(td.toLong) * col("inter") >= lit(tn.toLong) * col("sza"))
      .select(col("id_a"), col("id_b"), col("inter"), col("sza"),
        (col("inter").cast("double") / col("sza")).as("containment"))
  }

  /** Exact-verification tail shared by the PPJoin forms: fetch both
    * sets per candidate, integer threshold `td·inter ≥ tn·uni`, one
    * reporting division.
    */
  private def verifyJaccard(cand: DataFrame, aSets: DataFrame,
      bSets: DataFrame, tn: Int, td: Int,
      aName: String, bName: String): DataFrame = cand
    .join(aSets.select(col("id").as(aName), col("shs").as("sa"),
      col("sz").as("sza")), Seq(aName))
    .join(bSets.select(col("id").as(bName), col("shs").as("sb"),
      col("sz").as("szb")), Seq(bName))
    .withColumn("inter", size(array_intersect(col("sa"), col("sb"))).cast("long"))
    .withColumn("uni", col("sza") + col("szb") - col("inter"))
    .filter(lit(td) * col("inter") >= lit(tn) * col("uni"))
    .select(col(aName), col(bName), col("inter"), col("uni"),
      (col("inter").cast("double") / col("uni")).as("jaccard"))

  /** The [[prefixJaccardJoin]] pruning funnel as ONE declarative row —
    * the observability query that justifies the prefix filter at scale:
    * all-pairs count, pairs surviving the length bound (computed from
    * the SIZE HISTOGRAM self-join — O(|distinct sizes|²), never the
    * pairs themselves), distinct prefix-candidates, candidates surviving
    * the PPJoin+ position filter (the stage that verification actually
    * pays for), and verified pairs.
    * Every count is exact integer arithmetic; scalar 1-row relations
    * assemble by broadcast cross join (the q_col_histogram bounds
    * pattern).
    */
  def prefixJaccardFunnel(docs: DataFrame, tn: Int, td: Int,
      nShingle: Int = 3, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val sets = shingleSets(docs, nShingle, textCol, idCol)
    val nDocs = sets.agg(count(lit(1)).as("n_docs"))
    val hist = sets.groupBy(col("sz")).agg(count(lit(1)).as("cnt"))
      .localCheckpoint(true) // self-joined below
    val lengthPairs = hist.select(col("sz").as("sza"), col("cnt").as("ca"))
      .join(hist.select(col("sz").as("szb"), col("cnt").as("cb")),
        col("sza") <= col("szb") &&
          lit(tn) * col("szb") <= lit(td) * col("sza"))
      .agg(coalesce(sum(when(col("sza") === col("szb"),
        col("ca") * (col("ca") - 1) / 2)
        .otherwise(col("ca") * col("cb"))), lit(0L)).cast("long")
        .as("n_length_pairs"))
    val dfreq = sets.select(explode(col("shs")).as("g"))
      .groupBy(col("g")).agg(count(lit(1)).as("dfreq"))
    val prefix = prefixOf(sets, dfreq, tn, td)
    // same non-coalescable pins as prefixJaccardJoin (row-count-bound
    // stages on byte-tiny shuffles)
    val shuffleN = docs.sparkSession.sessionState.conf.numShufflePartitions
    // ONE pair-grouped pass replaces the former two dropDuplicates
    // branches (candPre / cand each re-shuffled and checkpointed the
    // joined relation): a pair is a position-filter survivor iff ANY
    // of its shared-prefix-token rows passes, so max(pos_ok) per pair
    // carries both funnel counts and the verify input — identical
    // counts, identical verified set, two fewer exchanges and one
    // fewer checkpoint
    val grouped = prefixPairs(prefix, shuffleN, tn, td)
      .withColumn("pos_ok",
        posFilter(col("pa"), col("pb"), col("sza"), col("szb"), tn, td))
      .repartition(shuffleN, col("id_a"), col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(max(col("pos_ok")).as("pos_any"))
      .localCheckpoint(true) // read by the count agg AND the verify
    val cand = grouped.filter(col("pos_any"))
      .select(col("id_a"), col("id_b"))
    val nCandBoth = grouped.agg(
      count(lit(1)).as("n_candidates"),
      sum(when(col("pos_any"), 1L).otherwise(0L)).as("n_candidates_pos"))
      .localCheckpoint(true)
    val nCand = nCandBoth.select(col("n_candidates"))
    val nCandPos = nCandBoth.select(col("n_candidates_pos"))
    val nVerified = verifyJaccard(cand, sets, sets, tn, td, "id_a", "id_b")
      .agg(count(lit(1)).as("n_verified"))
    nDocs
      .crossJoin(broadcast(lengthPairs))
      .crossJoin(broadcast(nCand))
      .crossJoin(broadcast(nCandPos))
      .crossJoin(broadcast(nVerified))
      .select(col("n_docs"),
        (col("n_docs") * (col("n_docs") - 1) / 2).cast("long").as("n_all_pairs"),
        col("n_length_pairs"), col("n_candidates"), col("n_candidates_pos"),
        col("n_verified"))
  }

  /** Corpus-vs-corpus shared-substring spans (the "Deduplicating
    * Training Data" exact-substring direction): positional 5-grams,
    * candidate doc pairs blocked on RARE grams (corpus dfreq ≤
    * `dfreqCap` — a span made entirely of boilerplate grams is the
    * repetition family's business; the cap bounds per-gram fan-out at
    * cap·(cap−1)/2 pairs), then the longest common run per pair via
    * DIAGONAL islands: matches of pair (a,b) at positions (pa, pb) lie
    * on diagonal pa−pb, and consecutive pa within one diagonal are one
    * shared substring (pos − ROW_NUMBER islands, windows keyed by
    * (pair, diagonal) so parallelism grows with pairs). Returns
    * (a, b, max_run, n_matched, span_tokens) for pairs with
    * max_run ≥ `minRun`, unordered/unlimited — callers rank and cut.
    */
  def crossDocSpans(docs: DataFrame, dfreqCap: Int = 20, minRun: Int = 3,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val toks5 = docs
      .select(col(idCol).as("doc_id"), tokens(col(textCol)).as("tk"))
      .groupBy(col("doc_id")).agg(first(col("tk")).as("tk")) // HOF barrier
      .filter(size(col("tk")) >= 5)
    val posGrams = toks5.select(col("doc_id"),
      posexplode(transform(sequence(lit(0), size(col("tk")) - 5),
        i => concat_ws(" ", slice(col("tk"), i + 1, lit(5)))))
        .as(Seq("pos", "g")))
      .localCheckpoint(true) // dfreq + both sides of the pair join
    val rare = posGrams.groupBy(col("g")).agg(count(lit(1)).as("dfreq"))
      .filter(col("dfreq") <= dfreqCap).select(col("g"))
    val occ = posGrams.join(rare, Seq("g"))
    val pr = occ.select(col("g"), col("doc_id").as("a"), col("pos").as("pa"))
      .join(occ.select(col("g"), col("doc_id").as("b"), col("pos").as("pb")),
        Seq("g"))
      .filter(col("a") < col("b"))
      .select(col("a"), col("b"), col("pa"), col("pb"))
      .withColumn("diag", col("pa") - col("pb"))
    val wIsl = Window.partitionBy(col("a"), col("b"), col("diag"))
      .orderBy(col("pa"))
    pr.withColumn("grp", col("pa") - row_number().over(wIsl))
      .groupBy(col("a"), col("b"), col("diag"), col("grp"))
      .agg(count(lit(1)).as("run"))
      .groupBy(col("a"), col("b"))
      .agg(max(col("run")).as("max_run"), sum(col("run")).as("n_matched"))
      .filter(col("max_run") >= minRun)
      .select(col("a"), col("b"), col("max_run"), col("n_matched"),
        (col("max_run") + 4).as("span_tokens"))
  }

  /** Corpus-vs-corpus span dedup (VERDICT r14 Next #7b): [[crossDocSpans]]
    * generalized from doc pairs to SOURCE pairs — per unordered source
    * pair, how many doc pairs share a verbatim ≥`minRun`-diagonal 5-gram
    * span, the total matched-gram mass, and the longest run. This is the
    * cross-source twin of the contamination-span report: at corpus scale
    * it answers "which two ingest feeds are syndicating each other's
    * text" from the SAME rare-gram-blocked pair relation the doc-level
    * report already computes (one extra broadcast-sized doc→source join
    * + a |sources|²-bounded aggregate — no new heavy shuffle).
    */
  def sourceSpanOverlap(docs: DataFrame, dfreqCap: Int = 20,
      minRun: Int = 3, textCol: String = "text", idCol: String = "doc_id",
      srcCol: String = "source"): DataFrame = {
    val pairSpans = crossDocSpans(docs, dfreqCap, minRun, textCol, idCol)
    val src = docs.select(col(idCol), col(srcCol))
    pairSpans
      .join(src.select(col(idCol).as("a"), col(srcCol).as("sa")), Seq("a"))
      .join(src.select(col(idCol).as("b"), col(srcCol).as("sb")), Seq("b"))
      .select(least(col("sa"), col("sb")).as("source_a"),
        greatest(col("sa"), col("sb")).as("source_b"),
        col("max_run"), col("n_matched"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("n_matched")).as("matched_grams"),
        max(col("max_run")).as("max_run"))
  }

  /** SimHash near-dup pairs: 64-bit signature per doc (custom codegen'd
    * expression), bucketed by 4 × 16-bit bands (two docs within Hamming
    * distance ≤ 3 are guaranteed to collide in ≥1 band by pigeonhole),
    * then exact Hamming verification.
    */
  def simhashNearDups(docs: DataFrame, maxHamming: Int = 3,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val sig = docs.select(col(idCol).as("id"),
      TextHashFunctions.simhash64(tokens(col(textCol))).as("sig"))
    val bandBits = 16
    val banded = sig.select(col("id"),
      posexplode(array((0 until 4).map(bnd =>
        shiftright(col("sig"), bnd * bandBits).bitwiseAND(lit((1L << bandBits) - 1))
      ): _*)).as(Seq("band", "bucket")))
    bucketPairs(banded)
      .join(sig.select(col("id").as("id_a"), col("sig").as("sig_a")), Seq("id_a"))
      .join(sig.select(col("id").as("id_b"), col("sig").as("sig_b")), Seq("id_b"))
      .withColumn("hamming", TextHashFunctions.hamming64(col("sig_a"), col("sig_b")))
      .filter(col("hamming") <= maxHamming)
      .select(col("id_a"), col("id_b"), col("hamming"))
  }

  /** Embedding-cosine near-dup pairs via the Similarity LSH machinery. */
  def cosineNearDups(embeddings: DataFrame, threshold: Double = 0.95,
      bands: Int = 8, bandBits: Int = 8,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    // same id-only bucket shape as minhashCandidates: vectors join back
    // after pair dedup, never through the ×bands shuffle
    val buckets = Similarity.lshBuckets(embeddings, bands, bandBits, 42, idCol, vecCol)
      .select(col("band"), col("bucket"), col(idCol).as("id"))
    val pairs = bucketPairs(buckets)
    val vecs = embeddings.select(col(idCol), col(vecCol))
    pairs
      .join(vecs.select(col(idCol).as("id_a"), col(vecCol).as("va")), Seq("id_a"))
      .join(vecs.select(col(idCol).as("id_b"), col(vecCol).as("vb")), Seq("id_b"))
      .withColumn("cos", cosine_similarity(col("va"), col("vb")))
      .filter(col("cos") >= threshold)
      .select(col("id_a"), col("id_b"), col("cos"))
  }

  /** Passage-granularity exact dedup (the sub-document pass a training
    * corpus runs when whole-doc dedup is too coarse — boilerplate,
    * repeated headers, syndicated spans) as a per-document report in ONE
    * tokenization pass: each document's token stream splits into fixed
    * `k`-token passages, and only each passage's FIRST corpus-wide
    * occurrence (ordered by (doc_id, idx) — deterministic) survives.
    * Returns (doc_id, n_chunks, n_kept, dedup_hash) where `n_chunks`
    * counts all of the doc's passages, `n_kept` the first occurrences
    * among them, and `dedup_hash` fingerprints the surviving text in
    * passage order.
    *
    * Scale shape: tokenization is one fused pass behind an aggregate
    * barrier (the chunking `transform` would otherwise re-run the
    * tokenizer per passage — Catalyst HOF semantics); first-occurrence
    * selection is ONE shuffle on the passage hash with a `row_number`
    * (bounded per-group state, same spill posture as [[bucketPairs]]'s
    * cap window).
    *
    * The round-3 form re-ran the full-corpus tokenizer a second time just
    * to compute `n_chunks` and joined it back (tokenization dominated the
    * query; VERDICT r3 Wrong #1). Here both counts come off the SAME
    * chunk relation: the first-occurrence `row_number` rides its passage-
    * hash shuffle WITHOUT the rn=1 filter, and the per-doc aggregate
    * counts all rows for `n_chunks` while the kept-only collect_list
    * (null-skipping `when`) carries `n_kept`/`dedup_hash`. Docs whose
    * passages were ALL deduplicated away still get a row (n_kept=0,
    * hash of empty text) — no left join needed.
    */
  def passageDedupReport(docs: DataFrame, k: Int = 20,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val toksDf = docs
      .select(col(idCol), tokens(col(textCol)).as("toks"))
      .groupBy(col(idCol)).agg(first(col("toks")).as("toks")) // HOF barrier
      .filter(size(col("toks")) > 0)
    val chunks = toksDf.select(col(idCol),
      posexplode(transform(
        sequence(lit(0), ceil(size(col("toks")) / lit(k.toDouble)).cast("int") - 1),
        i => array_join(slice(col("toks"), i * k + 1, lit(k)), " ")))
        .as(Seq("idx", "para")))
    val w = Window.partitionBy(md5(col("para"))).orderBy(col(idCol), col("idx"))
    chunks.withColumn("__rn", row_number().over(w))
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_chunks"),
        count(when(col("__rn") === 1, 1)).as("n_kept"),
        md5(array_join(
          transform(
            array_sort(collect_list(when(col("__rn") === 1,
              struct(col("idx"), col("para"))))),
            x => x.getField("para")), " ")).as("dedup_hash"))
  }

  /** From near-dup pairs to a kept set: canonical representative is the
    * smallest id reachable in ONE hop (greedy star-collapse — the fast
    * single-pass path; over-keeps on CHAINS A~B~C where A≁C directly —
    * use [[dedupKeepSetClosure]] when transitive duplicates matter).
    */
  def dedupKeepSet(docs: DataFrame, pairs: DataFrame, idCol: String = "doc_id"): DataFrame = {
    val demoted = pairs.select(col("id_b").as(idCol)).distinct()
    docs.select(col(idCol)).join(demoted, Seq(idCol), "left_anti")
  }

  /** Connected components of the near-dup pair graph: (id, comp) where
    * `comp` is the smallest id TRANSITIVELY reachable — only for ids that
    * appear in ≥1 pair (singletons have no row; they trivially keep
    * themselves).
    *
    * Min-label propagation with POINTER JUMPING: each round takes the min
    * over (a) neighbors' labels and (b) the label's own label
    * (`comp(comp(v))`). Plain neighbor propagation needs O(diameter)
    * rounds — a 1000-doc chain would need 1000 shuffles; the jump halves
    * the remaining depth each round, so convergence is O(log diameter)
    * and `maxIter = 20` covers components of astronomical diameter.
    * Each round is two equi-joins + one aggregate over the (id, comp)
    * relation. Iteration hygiene for real depth:
    *  - the (static) edge relation is hash-partitioned ONCE on the
    *    per-round join key (`nbr`) before the loop and persisted — every
    *    round's `edges ⋈ labels` reads that layout instead of
    *    re-shuffling the edges (the r3 form re-exchanged them per round);
    *  - per-round results are persisted and the previous round
    *    unpersisted; every `checkpointEvery` rounds the round result is
    *    `localCheckpoint`ed instead, truncating the join-chain lineage a
    *    failure would otherwise have to recompute from round 0;
    *  - the RESULT is materialized (localCheckpoint) before the loop's
    *    caches are released, so callers hold no reference to session-
    *    lifetime cache entries (the r3 form leaked the last round's
    *    persist per call).
    */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 20,
      checkpointEvery: Int = 5, localThreshold: Long = 200000L): DataFrame = {
    // SMALL-GRAPH FAST PATH, dispatched via the shared [[Guarded.iterate]]
    // (eager checkpoint BEFORE the guard count — see its scaladoc for why
    // that ordering is load-bearing; here the checkpoint additionally
    // stops the symmetrization union below reading the caller's LSH
    // lineage TWICE, and — with the second checkpoint on `edges` — keeps
    // per-round plan STRINGS O(round) instead of exponential: a persisted
    // relation still PRINTS its full child plan, and the observed failure
    // was the listener's explainString OOMing an 8 GB driver at sf0.1
    // with 879 edges before any task ran).
    // Below the guard: the distributed loop's cost is pure JOB-SCHEDULING
    // FLOOR — O(log d) rounds × (2 joins + 1 agg + 1 count action) of
    // launch latency on near-empty partitions (~2.6 s idle at sf0.1 for
    // q_dedup_cc_incremental, whose CONTRACTED graph is batch-sized by
    // construction). Union-find-by-min on the collected edge list
    // computes the IDENTICAL (id, min-reachable-id) labeling in one
    // guard-bounded collect + one parallelize. At real scale the guard
    // fails and the pointer-jumping loop runs unchanged — the 100 TB
    // path is untouched; DedupSimilaritySpec asserts both paths equal
    // driver union-find on the same graphs. Integral ids union as
    // longs; STRING ids (the entity-resolution graphs — q_er_clusters
    // clusters p_name strings and paid the full pointer-jumping job
    // floor, measured r18: 29 jobs / ~1.0 s of ~50 ms launches on
    // byte-tiny shuffles) union as UTF8String under the same BINARY
    // order Spark's least()/min use for strings. Other id types stay
    // distributed.
    // id type read from the (id_a, id_b) PROJECTION, not the raw caller
    // frame — a caller with extra/reordered columns must not change
    // which type the fast-path guard sees (fields(0) of the raw frame
    // could be anything)
    val proj = pairs.select(col("id_a"), col("id_b"))
    val idT = proj.schema.fields(0).dataType
    val localizable = (idT == proj.schema.fields(1).dataType) &&
      (idT match {
        case org.apache.spark.sql.types.LongType |
             org.apache.spark.sql.types.IntegerType |
             org.apache.spark.sql.types.ShortType |
             org.apache.spark.sql.types.StringType => true
        case _ => false
      })
    Guarded.iterate(proj,
        if (localizable) localThreshold else -1L) { (p, _) =>
      val spark = p.sparkSession
      import spark.implicits._
      if (idT == org.apache.spark.sql.types.StringType)
        localCC[UTF8String](p, _.getUTF8String(_), _.compareTo(_))
          .map { case (id, c) => (id.toString, c.toString) }.toDF("id", "comp")
      else
        // integral ids union as longs and cast back to the caller's type
        localCC[Long](p, _.get(_, idT).asInstanceOf[Number].longValue,
            java.lang.Long.compare).toDF("id", "comp")
          .select(col("id").cast(idT).as("id"), col("comp").cast(idT).as("comp"))
    } { (p, _) =>
      distributedCC(p, maxIter, checkpointEvery)
    }
  }

  private def distributedCC(p: DataFrame, maxIter: Int,
      checkpointEvery: Int): DataFrame = {
    val edges = p.select(col("id_a").as("id"), col("id_b").as("nbr"))
      .union(p.select(col("id_b").as("id"), col("id_a").as("nbr")))
      .repartition(col("nbr"))
      .localCheckpoint(true)
    var labels = edges.groupBy(col("id"))
      .agg(least(min(col("nbr")), first(col("id"))).as("comp"))
      .persist()
    var cached: Option[DataFrame] = Some(labels)
    var converged = false
    var i = 0
    while (i < maxIter && !converged) {
      // (a) min over neighbors' current labels; the round's starting comp
      // rides along as `prev` so convergence detection below is a plain
      // filter on the SAME relation — one Spark action per round total,
      // no separate compare join
      val nbrMin = edges
        .join(labels.select(col("id").as("nbr"), col("comp").as("nc")), Seq("nbr"))
        .groupBy(col("id")).agg(min(col("nc")).as("nbr_comp"))
      val stepped = labels.join(nbrMin, Seq("id"), "left")
        .select(col("id"), col("comp").as("prev"),
          least(col("comp"), coalesce(col("nbr_comp"), col("comp"))).as("comp"))
      // (b) pointer jump: follow my label to ITS label (comp is always a
      // node id present in `labels`, so the join hits unless comp == id)
      val nextPlan = stepped
        .join(stepped.select(col("comp").as("cc"), col("id").as("comp")),
          Seq("comp"), "left")
        .select(col("id"), col("prev"),
          least(col("comp"), coalesce(col("cc"), col("comp"))).as("comp"))
      // every `checkpointEvery`-th round: localCheckpoint (eager) instead
      // of persist — same blocks-in-memory effect, but the lineage is cut
      // so a late-round recompute never replays the whole join chain
      val ckpt = checkpointEvery > 0 && (i + 1) % checkpointEvery == 0
      val next = if (ckpt) nextPlan.localCheckpoint(true) else nextPlan.persist()
      val changed = next.filter(col("comp") < col("prev")).count()
      cached.foreach(_.unpersist())
      // checkpoint blocks are freed when the DataFrame is GC'd; only
      // plain persists need explicit unpersist tracking
      cached = if (ckpt) None else Some(next)
      labels = next.select(col("id"), col("comp"))
      converged = changed == 0
      i += 1
    }
    // materialize the result OFF the loop's caches (eager localCheckpoint),
    // then release them — callers hold no session-lifetime cache entries
    val result = labels.select(col("id"), col("comp")).localCheckpoint(true)
    cached.foreach(_.unpersist())
    // edges is a localCheckpoint leaf — its blocks free on GC (no
    // cacheManager entry to unpersist)
    result
  }

  /** Driver-local CC twin of the distributed loop: union-find with
    * union-BY-MIN-root + path compression, so every root IS the min id of
    * its component — exactly the distributed loop's fixpoint label.
    * `key` reads an endpoint of the collected internal row and `cmp` is
    * the id order Spark's least()/min use for that type; keys must be
    * valid hash keys (boxed longs, or UTF8String's byte equality — see
    * Guarded.collectInternal). Input is bounded (≤ `localThreshold` edge
    * rows — the caller's count guard); null endpoints are skipped.
    * Returns (id, root) for every node.
    */
  private def localCC[K](p: DataFrame, key: (InternalRow, Int) => K,
      cmp: (K, K) => Int): Seq[(K, K)] = {
    val parent = new java.util.HashMap[K, K]()
    def find(x: K): K = {
      var r = x
      while (parent.get(r) != r) r = parent.get(r)
      var c = x
      while (parent.get(c) != c) { val n = parent.get(c); parent.put(c, r); c = n }
      r
    }
    Guarded.collectInternal(p).foreach { row =>
      if (!row.isNullAt(0) && !row.isNullAt(1)) {
        val a = key(row, 0)
        val b = key(row, 1)
        parent.putIfAbsent(a, a)
        parent.putIfAbsent(b, b)
        val ra = find(a); val rb = find(b)
        val c = cmp(ra, rb)
        if (c < 0) parent.put(rb, ra)
        else if (c > 0) parent.put(ra, rb)
      }
    }
    val out = new scala.collection.mutable.ArrayBuffer[(K, K)](parent.size)
    parent.keySet.forEach(id => out += ((id, find(id))))
    out.toSeq
  }

  /** INCREMENTAL connected components — merge a NEW batch of edges into
    * an existing label relation WITHOUT recomputing the closure over the
    * historical graph. The at-scale form of graph maintenance for the
    * dedup cluster map: per ingest the corpus-sized work is two joins
    * (label remap + new-node anti-join); the iterative CC loop runs only
    * over the CONTRACTED graph — each new edge's endpoints replaced by
    * their existing component labels — which is batch-sized, not
    * corpus-sized.
    *
    * Correctness rides the min-id label convention: an existing label is
    * the MIN id of its component, so the contracted CC's roots (min over
    * merged labels and new ids) are exactly the full recompute's labels.
    * Asserted two ways: set-equality with a from-scratch
    * [[connectedComponents]] over the union graph (DedupSpec, random
    * splits), and the DuckDB-oracled q_dedup_cc_incremental (same oracle
    * as q_dedup_cc — the planted topology makes incremental ≡ full
    * visible to the driver's correctness gate).
    *
    * `labels` is (id, comp) as produced by [[connectedComponents]] (or a
    * previous call of this); `newPairs` is (id_a, id_b). Output covers
    * every previously-labeled node plus every node of `newPairs`.
    */
  def incrementalCC(labels: DataFrame, newPairs: DataFrame,
      maxIter: Int = 20): DataFrame = {
    // checkpoint: `labels` feeds three plan branches below (two endpoint
    // contractions + the remap/anti) — bound any caller lineage to one
    // evaluation, the connectedComponents discipline
    val l = labels.select(col("id"), col("comp")).localCheckpoint(true)
    val contracted = newPairs
      .select(col("id_a"), col("id_b"))
      .join(l.select(col("id").as("id_a"), col("comp").as("__ca")),
        Seq("id_a"), "left")
      .join(l.select(col("id").as("id_b"), col("comp").as("__cb")),
        Seq("id_b"), "left")
      .select(coalesce(col("__ca"), col("id_a")).as("id_a"),
        coalesce(col("__cb"), col("id_b")).as("id_b"))
    // batch-sized closure: nodes are touched components + new ids only
    val roots = connectedComponents(contracted, maxIter)
    // corpus-sized work ends here: one remap join on the OLD comp label
    // (roots' ids that are old labels re-point their whole component)...
    val remapped = l
      .join(roots.select(col("id").as("comp"), col("comp").as("__nc")),
        Seq("comp"), "left")
      .select(col("id"), coalesce(col("__nc"), col("comp")).as("comp"))
    // ...plus the genuinely new nodes (a new id can never equal an old
    // comp label — labels are ids of already-labeled nodes)
    val newNodes = roots.join(l.select(col("id")), Seq("id"), "left_anti")
    remapped.unionByName(newNodes.select(col("id"), col("comp")))
  }

  /** [[dedupKeepSet]] with full transitive closure: in every connected
    * component of the pair graph only the min id survives. The planted
    * chain A~B, B~C (A≁C) keeps exactly {A}, where the one-hop form
    * keeps {A} only if B happened to be listed as an `id_b`.
    */
  def dedupKeepSetClosure(docs: DataFrame, pairs: DataFrame,
      idCol: String = "doc_id", maxIter: Int = 20): DataFrame = {
    val demoted = connectedComponents(pairs, maxIter)
      .filter(col("comp") =!= col("id"))
      .select(col("id").as(idCol))
    docs.select(col(idCol)).join(demoted, Seq(idCol), "left_anti")
  }

  /** QUALITY-priority transitive dedup: per connected component keep the
    * member MAXIMIZING `score` (ties → smallest id), not the smallest id
    * — what a production pipeline actually wants from a near-dup cluster
    * (min-id keeps whichever copy was crawled first; keep-best keeps the
    * cleanest copy). Singletons (ids in `docs` but in no pair) keep
    * themselves. Returns the surviving ids.
    *
    * Determinism contract: pass a score that is bit-identical
    * cross-engine where that matters (e.g. `round(qualityScore, 6)` —
    * the q_corpus_pipeline convention), since the winner flips on score
    * ties broken only by the rounded comparison.
    *
    * Scale shape: one CC over the PAIR graph (pairs, not corpus), one
    * left join of the corpus's (id, score) projection to attach
    * components, one `row_number` window per component — per-group
    * state is bounded (components are near-dup clusters, and the CC
    * input is the capped [[bucketPairs]] output, so no component
    * exceeds what the banding admits).
    */
  def dedupKeepSetBest(docs: DataFrame, pairs: DataFrame, score: Column,
      idCol: String = "doc_id", maxIter: Int = 20): DataFrame = {
    val cc = connectedComponents(pairs, maxIter)
      .withColumnRenamed("id", idCol)
    val w = Window.partitionBy(col("__comp"))
      .orderBy(col("__s").desc, col(idCol))
    docs.select(col(idCol), score.as("__s"))
      .join(cc, Seq(idCol), "left")
      .withColumn("__comp", coalesce(col("comp"), col(idCol)))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select(col(idCol))
  }
}
