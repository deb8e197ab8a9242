package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Streaming-intake soak: per-batch wall time of the COMPOSED
  * [[graft.streaming.EventStreams.curationIntake]] loop as the admitted
  * corpus (sink + exact-dedup index) grows — the measured twin of the
  * batch-family scale soak in [[Soak]]. The 100 TB streaming claim is
  * that per-batch cost tracks the BATCH, not the cumulative corpus:
  * the quality/relevance/bloom gates are stateless per row, the dedup
  * state is watermark-bounded, the index anti-join is ids-only, and
  * the budget ledger is |sources| driver longs. A per-batch time curve
  * that stays flat while the index multiplies is that claim, measured.
  *
  * Feed: `batches` re-keyed copies of the full sf documents table
  * (copy i suffixed " copy i", so every batch is novel content — all
  * hashes distinct, state grows by ~the admitted batch each tick);
  * timestamps advance one hour per batch so the 2-hour watermark keeps
  * the in-stream dedup state bounded by design, exactly the deployment
  * contract. Budget targets are set far above the feed so the budget
  * PATH (per-source ledger update) is exercised every batch without
  * capping admissions.
  *
  * Prints ONE JSON line:
  * `{"intake":{"sf":...,"batch_docs":N,"batches":K,
  *   "per_batch_s":[...],"admitted":[...],"index_rows_final":M}}`
  */
object IntakeSoak {

  def main(args: Array[String]): Unit = {
    val sfDir = Harness.sfDir("/root/testdata/sf0.1")
    // default 50 batches: the r10 curve (10 batches, 0→34k hashes) was
    // short for a "flat while state grows" claim — 50 covers an order of
    // magnitude of index growth (→ ~170k hashes) in one run
    val nBatches = sys.env.getOrElse("SPARK_GRAFT_INTAKE_BATCHES", "50").toInt
    // ATTRIBUTION knob (VERDICT r11 Missing #2): pre-grow the dedup
    // index with N synthetic never-streamed hashes BEFORE wiring. The
    // r11 curve's +15% per-batch creep was read as possibly tracking
    // index growth — but the probed snapshot is PINNED at wiring (the
    // StreamingSpec listing pin), so within a run the probe never saw
    // the growth at all. Running the soak twice (pregrown=0 vs
    // pregrown=170000) makes that argument a measurement: if the two
    // curves share shape and level, the creep tracks BATCH COUNT
    // (state-store/file/GC overhead), not index size.
    val pregrown = sys.env.getOrElse("SPARK_GRAFT_INTAKE_PREGROWN", "0").toLong
    val spark = Harness.session()
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import graft.operators.TextAnalysis
    import graft.streaming.EventStreams

    val docs0 = Tables.documents(spark, sfDir)
    // fit-once reference state (the wiring contract: models ride the
    // closure, never refit in the loop)
    val quality = TextAnalysis.fitQualityLr(docs0,
      TextAnalysis.qualityScore(col("text")) >= 0.77)
    val bm25 = TextAnalysis.fitBm25(docs0, Seq("query", "stream", "vector", "hash"))
    val ref = TextAnalysis.fitLenHistogram(docs0)
    val bench = docs0.orderBy(col("doc_id")).limit(50)
      .select(col("doc_id"), col("text"))

    // the feed: one bounded collect of the fixture (sf0.1 = 5000 rows),
    // re-keyed + suffixed per batch so every batch is novel content
    val base = docs0.select(col("doc_id"), col("source"), col("text"))
      .orderBy(col("doc_id")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    // epoch arithmetic, not a formatted literal — batch i advances i
    // HOURS past midnight and i can exceed 23 (50-batch default)
    val t0Epoch = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
    def batchDocs(i: Int): Seq[EventStreams.SourcedDoc] = base.toSeq.map {
      case (id, src, text) =>
        EventStreams.SourcedDoc(id + i.toLong * 100000000L,
          new java.sql.Timestamp(t0Epoch + i.toLong * 3600000L),
          src, if (i == 0) text else s"$text copy $i")
    }
    val sources = base.map(_._2).distinct
    val targets = Some(sources.map(s => s -> 100000000L).toMap)

    val tmp = java.nio.file.Files.createTempDirectory("graft_intake_soak").toString
    val indexDir = s"$tmp/index"; val sinkDir = s"$tmp/sink"
    val ledgerDir = s"$tmp/ledger"
    // seed the index (resolveLive's flat-dir contract); the pregrown
    // hashes are md5s of never-streamed synthetic content, so they can
    // only add probe-side cost, never change the admitted set
    val seed = Seq("__seed__").toDF("text")
      .select(md5(col("text")).as("content_hash"))
    (if (pregrown > 0)
      seed.unionByName(spark.range(pregrown)
        .select(md5(concat(lit("__pregrown__"), col("id"))).as("content_hash")))
    else seed).write.parquet(indexDir)

    // untimed warmup: one full wire + batch cycle on copy-of-batch-0
    // content into a THROWAWAY sink/index absorbs JIT/codegen before the
    // timed loop (the Bench/Soak discipline)
    locally {
      val wtmp = java.nio.file.Files.createTempDirectory("graft_intake_warm").toString
      Seq("__seed__").toDF("text").select(md5(col("text")).as("content_hash"))
        .write.parquet(s"$wtmp/index")
      val mem = MemoryStream[EventStreams.SourcedDoc]
      val q = EventStreams.curationIntake(mem.toDF(), quality, 0.2, bm25, 0.0,
        bench, ref, 0.5, targets, s"$wtmp/index", s"$wtmp/sink",
        s"$wtmp/ledger").start()
      try { mem.addData(batchDocs(0): _*); q.processAllAvailable() }
      finally q.stop()
    }

    val mem = MemoryStream[EventStreams.SourcedDoc]
    val q = EventStreams.curationIntake(mem.toDF(), quality, 0.2, bm25, 0.0,
      bench, ref, 0.5, targets, indexDir, sinkDir, ledgerDir).start()
    val perBatch = new scala.collection.mutable.ArrayBuffer[Double]
    try {
      (0 until nBatches).foreach { i =>
        val t0 = System.nanoTime()
        mem.addData(batchDocs(i): _*)
        q.processAllAvailable()
        val secs = (System.nanoTime() - t0) / 1e9
        perBatch += math.rint(secs * 1000) / 1000
        System.err.println(f"[intake] batch $i%2d  $secs%.2f s")
      }
    } finally q.stop()

    val admitted = spark.read.parquet(ledgerDir)
      .orderBy(col("batch_id")).select(col("n_admitted"))
      .collect().map(_.getLong(0))
    val indexRows = spark.read.parquet(indexDir).count()

    // ---- image-phash incremental-index family (r16, VERDICT Next #5):
    // the MULTIMODAL maintenance twin of the exact-hash index above.
    // Each batch: generate novel content-seeded PNGs (map-only encode),
    // REAL-decode them to aHashes at the codec boundary, probe the
    // PERSISTED band index (Dedup.incrementalBandedDedup — ids-only
    // bucket join + hamming verify), then append the batch's buckets +
    // hashes. The 100 TB claim measured here: per-batch cost tracks the
    // BATCH (hash generation + a bucket hash-join whose probe side is
    // the batch), not the cumulative index — a flat curve while the
    // index multiplies ~15×.
    import graft.operators.{Artifacts, Dedup, Multimodal}
    val mediaBatches = sys.env.getOrElse("SPARK_GRAFT_IMGIDX_BATCHES", "15").toInt
    // ONE family runner, applied to image AND (r17, VERDICT Next #5)
    // audio — the two modalities share the band-index pipeline, so the
    // soak exercises each real codec's hash path against its own
    // persisted index.
    def mediaIndexFamily(tag: String,
        hashesOf: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame)
        : String = {
      val itmp = s"$tmp/${tag}idx"
      locally { // seed index = the base corpus; warmup probe absorbs JIT
        val idx0 = Dedup.bandHashIndex(hashesOf(docs0))
        idx0.buckets.write.parquet(s"$itmp/buckets")
        idx0.hashes.write.parquet(s"$itmp/hashes")
        Dedup.incrementalBandedDedup(hashesOf(docs0.limit(50)),
          Dedup.BandHashIndex(spark.read.parquet(s"$itmp/buckets"),
            spark.read.parquet(s"$itmp/hashes"))).count()
      }
      val perB = new scala.collection.mutable.ArrayBuffer[Double]
      val dups = new scala.collection.mutable.ArrayBuffer[Long]
      (0 until mediaBatches).foreach { i =>
        val bdocs = docs0.select(
          (col("doc_id") + lit((i + 1).toLong * 100000000L)).as("doc_id"),
          concat(col("text"), lit(s" $tag copy $i")).as("text"))
        val t0 = System.nanoTime()
        val idx = Dedup.BandHashIndex(
          spark.read.parquet(s"$itmp/buckets"),
          spark.read.parquet(s"$itmp/hashes"))
        val bh = hashesOf(bdocs).localCheckpoint(true)
        dups += Dedup.incrementalBandedDedup(bh, idx).count()
        Artifacts.append(Dedup.bandHashBuckets(bh), s"$itmp/buckets")
        Artifacts.append(bh.select(col("media_id").as("id"), col("b0"), col("b1"),
          col("b2"), col("b3")), s"$itmp/hashes")
        val secs = (System.nanoTime() - t0) / 1e9
        perB += math.rint(secs * 1000) / 1000
        System.err.println(f"[${tag}idx] batch $i%2d  $secs%.2f s")
      }
      val idxRows = spark.read.parquet(s"$itmp/hashes").count()
      s""""${tag}_index":{"batches":$mediaBatches,"batch_docs":${base.length},""" +
        s""""per_batch_s":[${perB.mkString(",")}],""" +
        s""""dups_found":[${dups.mkString(",")}],""" +
        s""""index_rows_final":$idxRows}"""
    }
    val imgJson = mediaIndexFamily("image",
      d => Multimodal.imageAHash(Multimodal.contentImageTable(d)).toDF())
    val audJson = mediaIndexFamily("audio",
      d => Multimodal.audioAHash(Multimodal.contentAudioTable(d)).toDF())

    println(s"""{"intake":{"sf":"$sfDir","batch_docs":${base.length},""" +
      s""""batches":$nBatches,"pregrown":$pregrown,""" +
      s""""per_batch_s":[${perBatch.mkString(",")}],""" +
      s""""admitted":[${admitted.mkString(",")}],"index_rows_final":$indexRows,""" +
      s"""$imgJson,$audJson}}""")
    spark.stop()
  }
}
