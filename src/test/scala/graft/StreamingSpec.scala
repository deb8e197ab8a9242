package graft

import graft.streaming.EventStreams
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import java.sql.Timestamp

/** Top-level (encoder-friendly) row type for embedding-stream tests. */
case class Vec(vec_id: Long, embedding: Seq[Float])

/** Structured Streaming pipelines driven by MemoryStream — verifies the
  * streaming path end-to-end (state, watermark, output modes), matching
  * the batch twins in EventQueries.
  */
class StreamingSpec extends SparkTestBase {

  import spark.implicits._

  case class E(event_id: Long, ts: Timestamp, user_id: Long,
      event_type: String, value: Double)

  private def ts(min: Int): Timestamp = Timestamp.valueOf(f"2024-01-01 ${min / 60}%02d:${min % 60}%02d:00")

  /** Parquet files under `dir` (recursively) that hold no row — what
    * appending a no-data micro-batch, or an empty partition 0 of a data
    * batch, leaves behind.
    */
  private def zeroRowFiles(dir: String): Seq[String] = {
    def files(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(files) else Seq(f)
    files(new java.io.File(dir)).map(_.getPath).filter(_.endsWith(".parquet"))
      .filter(p => spark.read.parquet(p).count() == 0L)
  }

  test("tumblingCounts aggregates per hour/type over a memory stream") {
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[E]
    val out = EventStreams.tumblingCounts(mem.toDF(), "1 hour", "2 hours")
    val q = out.writeStream.outputMode("complete")
      .format("memory").queryName("tumbling_out").start()
    try {
      mem.addData(
        E(1, ts(10), 1, "click", 1.0), E(2, ts(20), 1, "click", 2.0),
        E(3, ts(70), 2, "view", 5.0))
      q.processAllAvailable()
      val rows = spark.table("tumbling_out")
        .select(col("window_start").cast("string"), col("event_type"), col("n"), col("total_value"))
        .as[(String, String, Long, Double)].collect().toSet
      assert(rows == Set(
        ("2024-01-01 00:00:00", "click", 2L, 3.0),
        ("2024-01-01 01:00:00", "view", 1L, 5.0)))
    } finally q.stop()
  }

  test("sessionize groups by 30-minute gaps") {
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[E]
    val out = EventStreams.sessionize(mem.toDF(), "30 minutes")
    val q = out.writeStream.outputMode("complete")
      .format("memory").queryName("session_out").start()
    try {
      // user 1: events at 0, 10 (one session), then 120 (new session)
      mem.addData(
        E(1, ts(0), 1, "a", 1.0), E(2, ts(10), 1, "a", 1.0), E(3, ts(120), 1, "a", 1.0))
      q.processAllAvailable()
      val rows = spark.table("session_out")
        .select(col("user_id"), col("n_events")).as[(Long, Long)].collect().sorted
      assert(rows.toSeq == Seq((1L, 1L), (1L, 2L)))
    } finally q.stop()
  }

  test("sessionize (session_window) census equals a driver-side microsecond recompute on the fixture") {
    // the SAME plan runs on the batch-read fixture; session_window's
    // merge rule is "new session iff ts - prev >= gap" at FULL timestamp
    // precision (q_sessionize's oracled census is the second-granularity
    // cousin — different declared semantics, both pinned by tests)
    val events = Tables.events(spark, sf)
    val got = EventStreams.sessionize(events, "30 minutes")
      .select(col("user_id"), col("n_events"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .sorted.toSeq
    val expected = events
      .select(col("user_id"), unix_micros(col("ts")).as("us"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).toSeq.flatMap { case (u, es) =>
        val uss = es.map(_._2).sorted
        val newFlags = true +: uss.drop(1).zip(uss.dropRight(1))
          .map { case (cur, prev) => cur - prev >= 1800L * 1000000L }
        val ids = newFlags.scanLeft(0)((a, f) => if (f) a + 1 else a).drop(1)
        ids.groupBy(identity).values.map(g => (u, g.size.toLong))
      }.sorted
    assert(got == expected,
      s"session census diverged: ${got.size} vs ${expected.size} sessions")
  }

  test("slidingRates emits one row per overlapping hop window") {
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[E]
    val out = EventStreams.slidingRates(mem.toDF())
    val q = out.writeStream.outputMode("complete")
      .format("memory").queryName("sliding_out").start()
    try {
      mem.addData(E(1, ts(30), 1, "click", 1.0))
      q.processAllAvailable()
      // 1h window / 5min hop → the event lands in 12 overlapping windows
      val n = spark.table("sliding_out").count()
      assert(n == 12, s"expected 12 hop windows, got $n")
    } finally q.stop()
  }

  test("stream-static enrich attaches dimension columns") {
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[E]
    val dim = Seq((1L, "gold"), (2L, "basic")).toDF("user_id", "tier")
    val out = EventStreams.enrich(mem.toDF(), dim)
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("enrich_out").start()
    try {
      mem.addData(E(1, ts(0), 1, "a", 1.0), E(2, ts(1), 9, "a", 1.0))
      q.processAllAvailable()
      val rows = spark.table("enrich_out")
        .select(col("user_id"), col("tier")).as[(Long, Option[String])]
        .collect().toMap
      assert(rows == Map(1L -> Some("gold"), 9L -> None))
    } finally q.stop()
  }

  test("streaming dedupe drops duplicate event_ids within watermark") {
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[E]
    val out = EventStreams.dedupe(mem.toDF(), "2 hours")
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("dedup_out").start()
    try {
      mem.addData(E(1, ts(0), 1, "a", 1.0), E(1, ts(0), 1, "a", 1.0), E(2, ts(1), 1, "a", 1.0))
      q.processAllAvailable()
      assert(spark.table("dedup_out").count() == 2)
    } finally q.stop()
  }

  test("file sink + checkpoint: restart resumes without reprocessing") {
    implicit val sc = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_stream").toString
    val mem = MemoryStream[E]
    def start() = EventStreams.dedupe(mem.toDF(), "2 hours")
      .writeStream.outputMode("append")
      .format("parquet").option("path", s"$dir/out")
      .option("checkpointLocation", s"$dir/ckpt").start()
    val q1 = start()
    try {
      mem.addData(E(1, ts(0), 1, "a", 1.0), E(2, ts(1), 1, "a", 2.0))
      q1.processAllAvailable()
    } finally q1.stop()
    // restart against the same checkpoint; only new data lands
    val q2 = start()
    try {
      mem.addData(E(3, ts(2), 2, "b", 3.0))
      q2.processAllAvailable()
    } finally q2.stop()
    val out = spark.read.parquet(s"$dir/out")
    assert(out.count() == 3, "no duplicates, no loss across restart")
    assert(out.select(col("event_id")).as[Long].collect().toSet == Set(1L, 2L, 3L))
  }

  test("stream-stream interval join pairs views with clicks within 10 min") {
    implicit val sc = spark.sqlContext
    val views = MemoryStream[E]
    val clicks = MemoryStream[E]
    val out = EventStreams.intervalJoin(
      views.toDF().withWatermark("ts", "1 hour"),
      clicks.toDF().withWatermark("ts", "1 hour"),
      "10 minutes")
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("interval_out").start()
    try {
      views.addData(E(1, ts(0), 1, "view", 0.0), E(2, ts(60), 2, "view", 0.0))
      clicks.addData(
        E(10, ts(5), 1, "click", 0.0),   // within 10 min of view 1 → joins
        E(11, ts(30), 1, "click", 0.0),  // 30 min after view 1 → dropped
        E(12, ts(65), 2, "click", 0.0),  // within 10 min of view 2 → joins
        E(13, ts(58), 2, "click", 0.0))  // BEFORE view 2 → dropped
      q.processAllAvailable()
      val rows = spark.table("interval_out")
        .select(col("a_id"), col("b_id")).as[(Long, Long)].collect().toSet
      assert(rows == Set((1L, 10L), (2L, 12L)))
    } finally q.stop()
  }

  test("LEFT OUTER stream-stream join null-pads unmatched views after the watermark") {
    implicit val sc = spark.sqlContext
    val views = MemoryStream[E]
    val clicks = MemoryStream[E]
    val out = EventStreams.intervalJoin(
      views.toDF().withWatermark("ts", "10 minutes"),
      clicks.toDF().withWatermark("ts", "10 minutes"),
      "10 minutes", joinType = "left_outer")
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("louter_out").start()
    try {
      views.addData(E(1, ts(0), 1, "view", 0.0), E(2, ts(1), 2, "view", 0.0))
      clicks.addData(E(10, ts(5), 1, "click", 0.0)) // matches view 1; view 2 unmatched
      q.processAllAvailable()
      // advance event time far past view 2's join window so its state can
      // be finalized as a null-padded row (outer results only emit once
      // the watermark proves no future match can arrive)
      views.addData(E(3, ts(300), 9, "view", 0.0))
      clicks.addData(E(11, ts(300), 9, "click", 0.0))
      q.processAllAvailable()
      views.addData(E(4, ts(400), 8, "view", 0.0))
      clicks.addData(E(12, ts(400), 8, "click", 0.0))
      q.processAllAvailable()
      val rows = spark.table("louter_out")
        .select(col("a_id"), col("b_id")).as[(Long, Option[Long])].collect().toSet
      assert(rows.contains((1L, Some(10L))), s"matched pair missing: $rows")
      assert(rows.contains((2L, None)), s"null-padded unmatched view missing: $rows")
    } finally q.stop()
  }

  test("foreachBatch sink sees each micro-batch exactly once") {
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[E]
    val seen = new java.util.concurrent.ConcurrentHashMap[Long, Long]()
    val q = EventStreams.dedupe(mem.toDF(), "2 hours")
      .writeStream.outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        seen.put(id, batch.count()); ()
      }.start()
    try {
      mem.addData(E(1, ts(0), 1, "a", 1.0), E(2, ts(1), 1, "a", 2.0))
      q.processAllAvailable()
      mem.addData(E(3, ts(2), 2, "b", 3.0), E(1, ts(0), 1, "a", 1.0)) // dup of 1
      q.processAllAvailable()
      import scala.jdk.CollectionConverters._
      val total = seen.values().asScala.sum
      assert(total == 3, s"3 distinct events across batches, got $total in $seen")
    } finally q.stop()
  }

  test("transformWithState (state v2, RocksDB) accumulates per-user totals") {
    implicit val sc = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val mem = MemoryStream[EventStreams.Ev]
      val out = EventStreams.runningUserTotalsV2(mem.toDS())
      val q = out.writeStream.outputMode("append")
        .format("memory").queryName("state2_out").start()
      try {
        mem.addData(
          EventStreams.Ev(1, ts(0), 1, "a", 2.0),
          EventStreams.Ev(2, ts(1), 1, "a", 3.0))
        q.processAllAvailable()
        mem.addData(EventStreams.Ev(3, ts(2), 1, "a", 5.0))
        q.processAllAvailable()
        val rows = spark.table("state2_out")
          .as[EventStreams.SessionUpdate].collect()
          .map(u => (u.user_id, u.n_events, u.total_value)).toSet
        // batch 1 emits (1,2,5.0); batch 2 resumes state → (1,3,10.0)
        assert(rows == Set((1L, 2L, 5.0), (1L, 3L, 10.0)), rows.toString)
      } finally q.stop()
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("decontamIntake: benchmark-contaminated docs dropped at intake, batch ≡ stream") {
    implicit val sc = spark.sqlContext
    val benchText = "what is the capital city of france and which river flows through it"
    val bench = Seq((9001L, benchText)).toDF("doc_id", "text")
    // shares the 5-gram "what is the capital city" with the bench doc
    val leaked = "some pretraining page asking what is the capital city " +
      "of france among other trivia questions collected from the web"
    val clean1 = "a completely unrelated document about cooking pasta " +
      "with tomatoes and basil in a large pot of salted water"
    val clean2 = "another unrelated document describing a bicycle repair " +
      "procedure for a flat tire on a rainy day in the city"
    val sinkDir = java.nio.file.Files
      .createTempDirectory("graft_decontam").toString + "/sink"
    val mem = MemoryStream[EventStreams.Doc]
    val q = EventStreams.decontamIntake(mem.toDF(), bench, sinkDir).start()
    try {
      mem.addData(EventStreams.Doc(1, ts(0), leaked),
        EventStreams.Doc(2, ts(1), clean1))
      q.processAllAvailable()
      mem.addData(EventStreams.Doc(3, ts(2), clean2))
      q.processAllAvailable()
    } finally q.stop()
    val kept = spark.read.parquet(sinkDir).select(col("doc_id"))
      .as[Long].collect().toSet
    assert(kept == Set(2L, 3L), s"kept $kept")
    // batch ≡ stream: the batch operator on the same input keeps the
    // same docs (per-doc decision is stateless — exact equivalence)
    val all = Seq((1L, leaked), (2L, clean1), (3L, clean2))
      .toDF("doc_id", "text")
    val batchKept = graft.operators.TextAnalysis.decontaminate(all, bench)
      .select(col("doc_id")).as[Long].collect().toSet
    assert(batchKept == kept, "stream gate must equal batch decontaminate")
  }

  test("budgetedMixIntake: per-source admission ≈ temperature targets, batch ≡ stream") {
    implicit val sc = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      // planted SKEWED source mix: 12 web / 4 books / 2 code docs
      val docs = (0 until 12).map(i =>
        EventStreams.SourcedDoc(100 + i, ts(i), "web", s"web doc $i")) ++
        (0 until 4).map(i =>
          EventStreams.SourcedDoc(200 + i, ts(i), "books", s"book doc $i")) ++
        (0 until 2).map(i =>
          EventStreams.SourcedDoc(300 + i, ts(i), "code", s"code doc $i"))
      val docsDf = docs.toDF()
      // α=0.5 temperature targets over a 12-doc budget: n^0.5 flattens
      // the skew → web 6, books 3, code 2 (code capped by availability)
      val weights = graft.operators.Mix.temperatureWeights(
        docsDf, col("source"), alpha = 0.5, budget = 12)
      val targets = weights.select(col("group"), col("target")).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(targets == Map("web" -> 6L, "books" -> 3L, "code" -> 2L), targets)
      // stream in TWO monotone micro-batches (event-time order across
      // batches — the gate's batch ≡ stream precondition)
      val mem = MemoryStream[EventStreams.SourcedDoc]
      val q = EventStreams.budgetedMixIntake(mem.toDS(), targets)
        .writeStream.outputMode("append")
        .format("memory").queryName("mix_gate_out").start()
      try {
        val (early, late) = docs.sortBy(d => (d.ts.getTime, d.doc_id)).splitAt(9)
        mem.addData(early: _*)
        q.processAllAvailable()
        mem.addData(late: _*)
        q.processAllAvailable()
        val admitted = spark.table("mix_gate_out")
          .as[EventStreams.AdmittedDoc].collect()
        val perSource = admitted.groupBy(_.source).view.mapValues(_.length.toLong).toMap
        // admits == min(target, available) per source; counts RESUME
        // across the micro-batch boundary (state, not per-batch reset)
        assert(perSource == Map("web" -> 6L, "books" -> 3L, "code" -> 2L),
          s"admitted $perSource")
        // batch twin on the same input admits the SAME docs
        val batch = graft.operators.Mix.admitByBudget(
          docsDf, weights.select(col("group").as("source"), col("target")),
          col("source"), Seq(col("ts"), col("doc_id")))
          .select(col("doc_id")).as[Long].collect().toSet
        assert(admitted.map(_.doc_id).toSet == batch,
          "stream gate must admit exactly the batch twin's rows")
        // over-budget rejects: nothing beyond the target ever passes
        assert(admitted.length == 11)
      } finally q.stop()
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("streaming corpus intake: dedup + quality + language gates on a doc stream") {
    implicit val sc = spark.sqlContext
    val good = "the quick brown fox jumps over the lazy dog and the cat " +
      "is in the house with a dog for the day and the night is long"
    val junk = "!!! ??? ### $$$ %%%"
    val german = "der hund und die katze sind nicht im haus von dem mann " +
      "mit den kindern und der frau im garten bei dem wetter"
    val mem = MemoryStream[EventStreams.Doc]
    val out = EventStreams.curateDocs(mem.toDF())
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("curate_out").start()
    try {
      mem.addData(
        EventStreams.Doc(1, ts(0), good),
        EventStreams.Doc(2, ts(1), good), // exact dup of 1 → dropped
        EventStreams.Doc(3, ts(2), junk), // fails quality gate
        EventStreams.Doc(4, ts(3), german)) // fails language gate
      q.processAllAvailable()
      val kept = spark.table("curate_out").select(col("doc_id"))
        .as[Long].collect().toSet
      assert(kept == Set(1L), s"kept $kept")
    } finally q.stop()
  }

  test("streaming incremental intake: stream-static anti-join vs the fingerprint index") {
    implicit val sc = spark.sqlContext
    val known = "the quick brown fox jumps over the lazy dog and the cat " +
      "is in the house with a dog for the day and the night is long"
    val novel = "a new document with the words that pass the quality gate " +
      "and the language gate for the test of the incremental intake path"
    val index = Seq(known).toDF("text")
      .select(md5(col("text")).as("content_hash"))
    val mem = MemoryStream[EventStreams.Doc]
    val q = EventStreams.incrementalIntake(mem.toDF(), index)
      .writeStream.outputMode("append")
      .format("memory").queryName("incr_out").start()
    try {
      mem.addData(
        EventStreams.Doc(1, ts(0), known), // already in the corpus → dropped
        EventStreams.Doc(2, ts(1), novel), // novel → kept
        EventStreams.Doc(3, ts(2), novel)) // in-stream dup of 2 → dropped
      q.processAllAvailable()
      val kept = spark.table("incr_out").select(col("doc_id"))
        .as[Long].collect().toSet
      assert(kept == Set(2L), s"kept $kept")
    } finally q.stop()
  }

  test("streaming NEAR-dup intake: index near-dup dropped, novel kept, in-stream dup dropped") {
    implicit val sc = spark.sqlContext
    val corpusDoc = "the quick brown fox jumps over the lazy dog near the river bank today"
    val corpus = Seq((1L, corpusDoc)).toDF("doc_id", "text")
    val index = graft.operators.Dedup.minhashIndex(corpus)
    val nearDupOfIndexed = // one-token edit of the indexed doc
      "the quick brown fox jumps over the lazy dog near the river bank now"
    val novel = "a new document with the words that pass the quality gate " +
      "and the language gate for the test of the incremental intake path"
    val mem = MemoryStream[EventStreams.Doc]
    val q = EventStreams.incrementalNearIntake(mem.toDF(), index)
      .writeStream.outputMode("append")
      .format("memory").queryName("near_intake_out").start()
    try {
      mem.addData(
        EventStreams.Doc(11, ts(0), nearDupOfIndexed), // band-collides with index → dropped
        EventStreams.Doc(12, ts(1), novel),            // novel → kept
        EventStreams.Doc(13, ts(2), novel))            // in-stream signature dup of 12 → dropped
      q.processAllAvailable()
      val kept = spark.table("near_intake_out").select(col("doc_id"))
        .as[Long].collect().toSet
      assert(kept == Set(12L), s"kept $kept")
    } finally q.stop()
  }

  test("incrementalNearIntake: ONE stream-static join probes all bands; batch ≡ stream bit-exact") {
    implicit val sc = spark.sqlContext
    val corpusDoc = "the quick brown fox jumps over the lazy dog near the river bank today"
    val index = graft.operators.Dedup.minhashIndex(
      Seq((1L, corpusDoc)).toDF("doc_id", "text"))
    // plan: the r6 form ran `bands` (8) sequential anti-joins — the
    // posexplode rewrite probes every band through ONE two-key join
    val mem0 = MemoryStream[EventStreams.Doc]
    val joins = EventStreams.incrementalNearIntake(mem0.toDF(), index)
      .queryExecution.analyzed.collect {
        case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
      }
    assert(joins.size == 1, s"wanted exactly one join, got ${joins.size}")
    // batch ≡ stream: the SAME function on a batch frame (fMGWS runs
    // per-group with empty state; watermark/timeout are no-ops) must
    // produce bit-identical survivors to the streamed run
    val docs = Seq(
      EventStreams.Doc(11, ts(0), // band-collides with index → dropped
        "the quick brown fox jumps over the lazy dog near the river bank now"),
      EventStreams.Doc(12, ts(1), // novel → kept
        "a new document with the words that pass the quality gate " +
          "and the language gate for the test of the incremental intake path"),
      EventStreams.Doc(13, ts(2), // in-stream signature dup of 12 → dropped
        "a new document with the words that pass the quality gate " +
          "and the language gate for the test of the incremental intake path"))
    val batchOut = EventStreams.incrementalNearIntake(docs.toDF(), index)
      .collect().map(r => (r.getLong(0), r.getTimestamp(1).getTime, r.getString(2)))
      .sortBy(_._1)
    val mem = MemoryStream[EventStreams.Doc]
    val q = EventStreams.incrementalNearIntake(mem.toDF(), index)
      .writeStream.outputMode("append")
      .format("memory").queryName("near_equiv_out").start()
    val streamOut = try {
      mem.addData(docs: _*)
      q.processAllAvailable()
      spark.table("near_equiv_out")
        .collect().map(r => (r.getLong(0), r.getTimestamp(1).getTime, r.getString(2)))
        .sortBy(_._1)
    } finally q.stop()
    assert(batchOut.sameElements(streamOut),
      s"batch ${batchOut.toSeq} != stream ${streamOut.toSeq}")
    assert(batchOut.map(_._1).toSeq == Seq(12L), s"gate wrong: ${batchOut.toSeq}")
  }

  test("streaming nearDupMatches mirrors batch incrementalNearDup pair-for-pair") {
    implicit val sc = spark.sqlContext
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the river bank today"),
      (2L, "spark engines shuffle data between executors during wide transformations"),
      (3L, "completely different text about gardening tulips and spring weather"))
      .toDF("doc_id", "text")
    val index = graft.operators.Dedup.minhashIndex(corpus)
    val batchDocs = Seq(
      (101L, "the quick brown fox jumps over the lazy dog near the river bank now"),
      (102L, "spark engines shuffle data between executors during wide transformations"),
      (103L, "a totally novel document with no overlap whatsoever in any shingle"))
    val expected = graft.operators.Dedup.incrementalNearDup(
      batchDocs.toDF("doc_id", "text"), index, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val mem = MemoryStream[EventStreams.Doc]
    val q = EventStreams.nearDupMatches(mem.toDF(), index, threshold = 0.5)
      .writeStream.outputMode("append")
      .format("memory").queryName("near_match_out").start()
    try {
      mem.addData(batchDocs.zipWithIndex.map { case ((id, text), i) =>
        EventStreams.Doc(id, ts(i), text) }: _*)
      q.processAllAvailable()
      val got = spark.table("near_match_out")
        .as[(Long, Long, Double)].collect().toSet
      assert(got == expected, s"stream $got != batch $expected")
      assert(got.map(p => (p._1, p._2)) == Set((101L, 1L), (102L, 2L)))
    } finally q.stop()
  }

  test("static-side parquet appends are NOT visible to a RUNNING stream-static join (listing pinned at start)") {
    // ENGINE-BEHAVIOR PIN, corrected in round 7: the round-6 version of
    // this test appeared to show in-query append visibility, but it was
    // vacuous — the appended hash matched already-streamed content, so
    // dropDuplicatesWithinWatermark state dropped the probe doc whatever
    // the file listing did (round-6 ADVICE). With a hash for content
    // that was NEVER streamed (no dedup state can explain a drop), the
    // truth is the opposite: spark.read.parquet resolves its file
    // listing ONCE, so a static-side append during the run is INVISIBLE
    // to the anti-join. The incremental-intake story therefore rests on
    // the RESTART cadence (maintainedIntake's two-cycle tests) and on
    // maintainedNearIntakeVerified's per-batch reload inside
    // foreachBatch — not on in-query listing refresh. If a Spark
    // upgrade starts re-listing, this fails loudly and the docs can be
    // upgraded to the stronger claim.
    implicit val sc = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_static_vis")
      .toString + "/idx"
    val appended = "the quick brown fox jumps over the lazy dog and the cat " +
      "is in the house with a dog for the day and the night is long"
    val streamed1 = "an initial document that passes both gates and flows " +
      "through the intake in the first micro batch of the visibility test"
    val other = "a new document with the words that pass the quality gate " +
      "and the language gate for the test of the incremental intake path"
    Seq("seed-placeholder").toDF("text")
      .select(md5(col("text")).as("content_hash")).write.parquet(dir)
    val mem = MemoryStream[EventStreams.Doc]
    val q = EventStreams.incrementalIntake(mem.toDF(), spark.read.parquet(dir))
      .writeStream.outputMode("append").format("memory")
      .queryName("static_vis_out").start()
    try {
      mem.addData(EventStreams.Doc(1, ts(0), streamed1))
      q.processAllAvailable()
      // append a hash for NEVER-STREAMED content WHILE the query runs —
      // no dedup state exists for it, so IF the anti-join re-listed the
      // static side it (and only it) would drop the doc next batch
      Seq(appended).toDF("text").select(md5(col("text")).as("content_hash"))
        .write.mode("append").parquet(dir)
      mem.addData(EventStreams.Doc(2, ts(30), other),
        EventStreams.Doc(3, ts(31), appended))
      q.processAllAvailable()
      val kept = spark.table("static_vis_out").select(col("doc_id"))
        .as[Long].collect().toSet
      assert(kept == Set(1L, 2L, 3L),
        s"kept $kept — doc 3 dropped means Spark now re-lists static sides " +
          "mid-query; upgrade the intake docs to the stronger claim")
    } finally q.stop()
    // the SAME index read by a FRESH query (the restart cadence the
    // maintained loops use) does see the append — doc 3's twin drops
    val mem2 = MemoryStream[EventStreams.Doc]
    val q2 = EventStreams.incrementalIntake(mem2.toDF(), spark.read.parquet(dir))
      .writeStream.outputMode("append").format("memory")
      .queryName("static_vis_out2").start()
    try {
      mem2.addData(EventStreams.Doc(4, ts(60), appended))
      q2.processAllAvailable()
      assert(spark.table("static_vis_out2").count() == 0L,
        "a restarted query must see the appended hash")
    } finally q2.stop()
  }

  test("maintainedIntake: closed loop across a RESTART — cycle 2 drops cycle 1's docs") {
    implicit val sc = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("graft_loop").toString
    val indexDir = s"$tmp/index"; val sinkDir = s"$tmp/sink"
    val seeded = "the quick brown fox jumps over the lazy dog and the cat " +
      "is in the house with a dog for the day and the night is long"
    val novel1 = "a new document with the words that pass the quality gate " +
      "and the language gate for the test of the incremental intake path"
    val novel2 = "another fresh document where the tokens clear the gates " +
      "and the content is not in the index for this second cycle test"
    // seed the durable index with one known hash
    Seq(seeded).toDF("text").select(md5(col("text")).as("content_hash"))
      .write.parquet(indexDir)
    // cycle 1
    val mem1 = MemoryStream[EventStreams.Doc]
    val q1 = EventStreams.maintainedIntake(mem1.toDF(), indexDir, sinkDir).start()
    try {
      mem1.addData(
        EventStreams.Doc(1, ts(0), seeded),  // in index → dropped
        EventStreams.Doc(2, ts(1), novel1))  // kept + hash appended
      q1.processAllAvailable()
    } finally q1.stop()
    val afterC1 = spark.read.parquet(sinkDir).select(col("doc_id"))
      .as[Long].collect().toSet
    assert(afterC1 == Set(2L), s"cycle 1 kept $afterC1")
    // cycle 2: a FRESH query (process restart, in spirit) — novel1 must
    // now be dropped because its hash lives in the durable index, not in
    // any session memo or state store
    val mem2 = MemoryStream[EventStreams.Doc]
    val q2 = EventStreams.maintainedIntake(mem2.toDF(), indexDir, sinkDir).start()
    try {
      mem2.addData(
        EventStreams.Doc(3, ts(10), novel1), // cycle-1 survivor → dropped
        EventStreams.Doc(4, ts(11), novel2)) // genuinely new → kept
      q2.processAllAvailable()
    } finally q2.stop()
    val afterC2 = spark.read.parquet(sinkDir).select(col("doc_id"))
      .as[Long].collect().toSet
    assert(afterC2 == Set(2L, 4L), s"cycle 2 state $afterC2")
    // and the index now carries all three content hashes, none twice
    assert(spark.read.parquet(indexDir).distinct().count() == 3L)
    assert(spark.read.parquet(indexDir).count() == 3L)
    // no append left a 0-row file (the no-data micro-batch after each
    // data batch, or a data batch's empty partition 0)
    assert(zeroRowFiles(sinkDir).isEmpty && zeroRowFiles(indexDir).isEmpty,
      s"0-row files: ${zeroRowFiles(sinkDir) ++ zeroRowFiles(indexDir)}")
  }

  test("maintainedNearIntake: near-dup of a cycle-1 survivor is dropped in cycle 2") {
    implicit val sc = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("graft_nearloop").toString
    val indexDir = s"$tmp/index"; val sinkDir = s"$tmp/sink"
    val corpusDoc = "the quick brown fox jumps over the lazy dog near the river bank today"
    graft.operators.Artifacts.saveMinhashIndex(
      graft.operators.Dedup.minhashIndex(Seq((1L, corpusDoc)).toDF("doc_id", "text")),
      indexDir)
    val novel = "a new document with the words that pass the quality gate " +
      "and the language gate for the test of the incremental intake path"
    val nearDupOfNovel = "a new document with the words that pass the quality gate " +
      "and the language gate for the test of the incremental intake step"
    // cycle 1: novel survives, its bucket rows + shingles append
    val mem1 = MemoryStream[EventStreams.Doc]
    val q1 = EventStreams.maintainedNearIntake(mem1.toDF(), indexDir, sinkDir).start()
    try {
      mem1.addData(EventStreams.Doc(11, ts(0), novel))
      q1.processAllAvailable()
    } finally q1.stop()
    assert(spark.read.parquet(sinkDir).select(col("doc_id"))
      .as[Long].collect().toSet == Set(11L))
    // cycle 2 (fresh query): a near-dup of the cycle-1 survivor must
    // band-collide with the UPDATED durable index and be dropped
    val mem2 = MemoryStream[EventStreams.Doc]
    val q2 = EventStreams.maintainedNearIntake(mem2.toDF(), indexDir, sinkDir).start()
    try {
      mem2.addData(EventStreams.Doc(12, ts(10), nearDupOfNovel))
      q2.processAllAvailable()
    } finally q2.stop()
    assert(spark.read.parquet(sinkDir).select(col("doc_id"))
      .as[Long].collect().toSet == Set(11L), "near-dup of survivor not dropped")
    assert(zeroRowFiles(sinkDir).isEmpty && zeroRowFiles(indexDir).isEmpty,
      s"0-row files: ${zeroRowFiles(sinkDir) ++ zeroRowFiles(indexDir)}")
  }

  test("maintainedNearIntake + versioned compaction: the closed loop survives a compaction between cycles") {
    // VERDICT r6 Missing #1 end-to-end: cycle 1 appends into the flat
    // index, a crash-safe compactMinhashIndex publishes v=1 on the
    // maintenance cadence, and cycle 2 (a fresh query resolving _LATEST)
    // still drops a near-dup of the cycle-1 survivor AND keeps appending
    // into the live version.
    implicit val sc = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("graft_verloop").toString
    val indexDir = s"$tmp/index"; val sinkDir = s"$tmp/sink"
    val corpusDoc = "the quick brown fox jumps over the lazy dog near the river bank today"
    graft.operators.Artifacts.saveMinhashIndex(
      graft.operators.Dedup.minhashIndex(Seq((1L, corpusDoc)).toDF("doc_id", "text")),
      indexDir)
    val novel = "a new document with the words that pass the quality gate " +
      "and the language gate for the test of the incremental intake path"
    val nearDupOfNovel = "a new document with the words that pass the quality gate " +
      "and the language gate for the test of the incremental intake step"
    val novel2 = "another fresh document where the tokens clear the gates " +
      "and the content is not in the index for this second cycle test"
    val mem1 = MemoryStream[EventStreams.Doc]
    val q1 = EventStreams.maintainedNearIntake(mem1.toDF(), indexDir, sinkDir).start()
    try {
      mem1.addData(EventStreams.Doc(11, ts(0), novel))
      q1.processAllAvailable()
    } finally q1.stop()
    // maintenance cadence: crash-safe versioned compaction (flat → v=1)
    graft.operators.Artifacts.compactMinhashIndex(spark, indexDir)
    assert(graft.operators.Artifacts.latestVersion(spark, indexDir)
      .exists(_.endsWith("v=1")))
    // cycle 2 resolves _LATEST: near-dup of the cycle-1 survivor dropped,
    // a genuinely new doc kept and appended INTO the live version
    val mem2 = MemoryStream[EventStreams.Doc]
    val q2 = EventStreams.maintainedNearIntake(mem2.toDF(), indexDir, sinkDir).start()
    try {
      mem2.addData(EventStreams.Doc(12, ts(10), nearDupOfNovel),
        EventStreams.Doc(13, ts(11), novel2))
      q2.processAllAvailable()
    } finally q2.stop()
    assert(spark.read.parquet(sinkDir).select(col("doc_id"))
      .as[Long].collect().toSet == Set(11L, 13L), "cycle-2 gate wrong")
    val live = graft.operators.Artifacts.loadMinhashIndex(spark, indexDir)
    assert(live.content.select(col("id")).as[Long].collect().toSet ==
      Set(1L, 11L, 13L), "cycle-2 appends must land in the live version")
  }

  test("maintainedIvfIntake: at-rest serving retrieves appended vectors across a RESTART, no rebuild") {
    // VERDICT r6 Missing #4: the ANN twin of maintainedNearIntake —
    // foreachBatch encodes new embeddings under the FROZEN model and
    // appends them into the at-rest cell directories; a later
    // ivfPqApplyFromDisk (fresh query, restart in spirit) retrieves them
    // with no index rebuild and no model refit.
    implicit val sc = spark.sqlContext
    import graft.operators.Similarity
    val tmp = java.nio.file.Files.createTempDirectory("graft_ivfloop").toString
    val indexDir = s"$tmp/index"; val sinkDir = s"$tmp/sink"
    def vec(seed: Long): Array[Float] =
      Array.tabulate(8)(i => (((seed * 31 + i * 17) % 13) - 6).toFloat)
    val corpus = (0L until 20L).map(id => (id, vec(id)))
      .toDF("vec_id", "embedding")
    val model = Similarity.fitIvfPq(corpus, nCells = 2, m = 2, nCentroids = 4)
    Similarity.writeIvfPqIndex(corpus, model, indexDir)
    val vNew = Array.tabulate(8)(i => if (i % 2 == 0) 9f else -9f)
    // cycle 1: append vec 100
    val mem1 = MemoryStream[EventStreams.Vec]
    val q1 = EventStreams.maintainedIvfIntake(mem1.toDF(), model,
      indexDir, sinkDir).start()
    try {
      mem1.addData(EventStreams.Vec(100L, vNew))
      q1.processAllAvailable()
    } finally q1.stop()
    // maintenance cadence between cycles: crash-safe versioned
    // compaction (flat → v=1) — cycle 2's appends must follow _LATEST
    graft.operators.Artifacts.compactIvfPqIndex(spark, indexDir)
    assert(graft.operators.Artifacts.latestVersion(spark, indexDir)
      .exists(_.endsWith("v=1")))
    // cycle 2 (fresh query): append vec 101 — proves the loop restarts
    // against the same durable index AND lands inside the live version
    val mem2 = MemoryStream[EventStreams.Vec]
    val q2 = EventStreams.maintainedIvfIntake(mem2.toDF(), model,
      indexDir, sinkDir).start()
    try {
      mem2.addData(EventStreams.Vec(101L, vNew.map(x => x * 0.5f)))
      q2.processAllAvailable()
    } finally q2.stop()
    // both appends landed as encoded rows in the LIVE version's cells
    val codes = spark.read.parquet(
      graft.operators.Artifacts.resolveLive(spark, indexDir))
    assert(codes.filter(col("neighbor_id").isin(100L, 101L)).count() == 2L,
      "appended vectors missing from the at-rest index")
    // at-rest serving (primary store = seed corpus + sink appends) finds
    // the appended vectors for a query aligned with them — NO rebuild,
    // NO refit, the index dir was only ever appended to
    val primary = corpus.unionByName(spark.read.parquet(sinkDir))
    val query = Seq((999L, vNew)).toDF("vec_id", "embedding")
    val got = Similarity.ivfPqApplyFromDisk(indexDir, primary, query,
      k = 3, model, nProbe = 2)
      .select(col("neighbor_id"), col("rank")).as[(Long, Long)]
      .collect().toMap
    assert(got.contains(100L) && got(100L) == 1L,
      s"cycle-1 append not served at rank 1: $got")
    assert(got.contains(101L), s"cycle-2 append not served: $got")
  }

  test("maintainedIvfIntake with maintainEvery: in-loop cadence compacts a degraded layout, serving stays correct") {
    // the trigger (Artifacts.maintainIvfPqIndex) run INSIDE the intake
    // loop: foreachBatch serializes and the loop is the only appender,
    // so the quiesced-index precondition holds by construction. Eight
    // one-vector batches all landing in one hot cell degrade the file
    // layout; the every-2-batches tick compacts when the bound trips,
    // and serving retrieves every appended vector afterwards.
    implicit val sc = spark.sqlContext
    import graft.operators.{Artifacts, Similarity}
    val tmp = java.nio.file.Files.createTempDirectory("graft_ivfcad").toString
    val indexDir = s"$tmp/index"; val sinkDir = s"$tmp/sink"
    def vec(seed: Long): Array[Float] =
      Array.tabulate(8)(i => (((seed * 31 + i * 17) % 13) - 6).toFloat)
    val corpus = (0L until 20L).map(id => (id, vec(id)))
      .toDF("vec_id", "embedding")
    val model = Similarity.fitIvfPq(corpus, nCells = 2, m = 2, nCentroids = 4)
    Similarity.writeIvfPqIndex(corpus, model, indexDir)
    val hot = Array.tabulate(8)(i => if (i % 2 == 0) 9f else -9f)
    val mem = MemoryStream[EventStreams.Vec]
    val q = EventStreams.maintainedIvfIntake(mem.toDF(), model,
      indexDir, sinkDir, maintainEvery = 2).start()
    try {
      (0 until 8).foreach { i =>
        mem.addData(EventStreams.Vec(100L + i, hot.map(x => x + i * 0.01f)))
        q.processAllAvailable() // one micro-batch per vector
      }
    } finally q.stop()
    // the cadence fired: a compacted version is live and the layout is
    // healthy again (one file set per cell, skew gone)
    assert(Artifacts.latestVersion(spark, indexDir).nonEmpty,
      "in-loop maintenance never compacted a degraded layout")
    val healed = Artifacts.ivfLayoutStats(spark, indexDir)
    assert(healed.skew <= 3.0 && healed.avgFilesPerCell <= 4.0,
      s"layout still degraded after in-loop maintenance: $healed")
    // nothing lost: all 8 appends present in the live version and served
    val codes = spark.read.parquet(Artifacts.resolveLive(spark, indexDir))
    assert(codes.filter(col("neighbor_id") >= 100L).count() == 8L,
      "appended vectors missing after in-loop compaction")
    val primary = corpus.unionByName(spark.read.parquet(sinkDir))
    val query = Seq((999L, hot)).toDF("vec_id", "embedding")
    val got = Similarity.ivfPqApplyFromDisk(indexDir, primary, query,
      k = 3, model, nProbe = 2)
      .select(col("neighbor_id")).as[Long].collect().toSet
    assert(got.nonEmpty && got.forall(_ >= 100L),
      s"hot-direction query must be served by the appended vectors: $got")
  }

  test("maintainedClusterIntake: label map maintained across a RESTART equals the full closure; compaction preserves it") {
    implicit val sc = spark.sqlContext
    import graft.operators.{Artifacts, Dedup}
    val tmp = java.nio.file.Files.createTempDirectory("graft_clusterloop").toString
    val indexDir = s"$tmp/index"; val sinkDir = s"$tmp/sink"
    val labelsDir = s"$tmp/labels"
    val corpusDoc = "the quick brown fox jumps over the lazy dog near the " +
      "river bank today while the sun is high and the water is clear"
    Artifacts.saveMinhashIndex(
      Dedup.minhashIndex(Seq((1L, corpusDoc)).toDF("doc_id", "text")), indexDir)
    val nearCorpus = "the quick brown fox jumps over the lazy dog near the " +
      "river bank today while the sun is high and the water is cold"
    val novel = "a new document with the words that pass the quality gate " +
      "and the language gate for the test of the incremental intake path"
    val nearNovel = "a new document with the words that pass the quality gate " +
      "and the language gate for the test of the incremental intake step"
    // cycle 1: 11 verified-hits corpus doc 1; 12 novel; 13 in-batch
    // near-dup of 12 → edges (11,1) and (12,13)
    val mem1 = MemoryStream[EventStreams.Doc]
    val q1 = EventStreams.maintainedClusterIntake(mem1.toDF(), indexDir,
      sinkDir, labelsDir, threshold = 0.5).start()
    try {
      mem1.addData(EventStreams.Doc(11, ts(0), nearCorpus),
        EventStreams.Doc(12, ts(1), novel),
        EventStreams.Doc(13, ts(2), nearNovel))
      q1.processAllAvailable()
    } finally q1.stop()
    def labels() = Artifacts.currentLabels(spark, labelsDir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels() == Map(1L -> 1L, 11L -> 1L, 12L -> 12L, 13L -> 12L),
      s"cycle-1 labels ${labels()}")
    // cycle 2 (fresh query, restart in spirit): 14 verified-hits the
    // cycle-1 survivor 12 (whose buckets the loop appended) → 14 joins
    // 12's component; the delta appended is exactly the one changed row
    val mem2 = MemoryStream[EventStreams.Doc]
    val q2 = EventStreams.maintainedClusterIntake(mem2.toDF(), indexDir,
      sinkDir, labelsDir, threshold = 0.5).start()
    try {
      mem2.addData(EventStreams.Doc(14, ts(10), nearNovel))
      q2.processAllAvailable()
    } finally q2.stop()
    val expected = Map(1L -> 1L, 11L -> 1L, 12L -> 12L, 13L -> 12L, 14L -> 12L)
    assert(labels() == expected, s"cycle-2 labels ${labels()}")
    // the map equals a from-scratch closure over every edge ever seen
    val full = Dedup.connectedComponents(
      Seq((11L, 1L), (12L, 13L), (14L, 12L)).toDF("id_a", "id_b")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels() == full, "maintained map must equal the full closure")
    // crash-safe squash: one seq, same resolved map, pointer live
    Artifacts.compactLabels(spark, labelsDir)
    assert(Artifacts.latestVersion(spark, labelsDir).exists(_.endsWith("v=1")))
    assert(labels() == expected, s"post-compaction labels ${labels()}")
    assert(Artifacts.nextLabelSeq(spark, labelsDir) == 2L,
      "squashed log must be one seq deep")
  }

  test("maintainedNearIntakeVerified: below-threshold doc survives, dup dropped, in-batch closure") {
    implicit val sc = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("graft_vloop").toString
    val indexDir = s"$tmp/index"; val sinkDir = s"$tmp/sink"
    val corpusDoc = "the quick brown fox jumps over the lazy dog near the " +
      "river bank today while the sun is high and the water is clear"
    graft.operators.Artifacts.saveMinhashIndex(
      graft.operators.Dedup.minhashIndex(
        Seq((1L, corpusDoc)).toDF("doc_id", "text")), indexDir)
    // heavy dup of the corpus doc (jaccard >> 0.7) → verified hit, dropped
    val heavyDup = "the quick brown fox jumps over the lazy dog near the " +
      "river bank today while the sun is high and the water is warm"
    // light overlap (well below 0.7) → must SURVIVE the verified gate
    // even if some band happens to collide
    val lightOverlap = "the quick brown fox is a common test phrase and " +
      "this document then talks about the gardens and the tulip fields there"
    val novel = "a new document with the words that pass the quality gate " +
      "and the language gate for the test of the incremental intake path"
    val mem = MemoryStream[EventStreams.Doc]
    val q = EventStreams.maintainedNearIntakeVerified(
      mem.toDF(), indexDir, sinkDir, threshold = 0.7).start()
    try {
      mem.addData(
        EventStreams.Doc(11, ts(0), heavyDup),
        EventStreams.Doc(12, ts(1), lightOverlap),
        EventStreams.Doc(13, ts(2), novel),
        EventStreams.Doc(14, ts(3), novel)) // in-batch dup of 13 → closure keeps 13
      q.processAllAvailable()
      val kept = spark.read.parquet(sinkDir).select(col("doc_id"))
        .as[Long].collect().toSet
      assert(kept == Set(12L, 13L), s"kept $kept")
    } finally q.stop()
    // verify the jaccard premises the test leans on
    val j = Seq((1L, corpusDoc)).toDF("doc_id", "text")
      .crossJoin(Seq((2L, heavyDup), (3L, lightOverlap)).toDF("id2", "t2"))
      .select(col("id2"), graft.operators.Dedup.jaccard(
        graft.operators.Dedup.shingles(col("text"), 3),
        graft.operators.Dedup.shingles(col("t2"), 3)).as("j"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(j(2L) >= 0.7, s"premise: heavyDup jaccard ${j(2L)} >= 0.7")
    assert(j(3L) < 0.7, s"premise: lightOverlap jaccard ${j(3L)} < 0.7")
  }

  test("compress-ratio gate on a doc stream: map-only codegen'd deflate, batch ≡ stream") {
    implicit val sc = spark.sqlContext
    val docs = Seq(
      EventStreams.Doc(1, ts(0), ("spam ham " * 100).trim),
      EventStreams.Doc(2, ts(1), "the quick brown fox jumps over the lazy " +
        "dog while the gardener plants tulips near the river bank today"))
    val batch = docs.toDF()
      .select(col("doc_id"),
        graft.functions.CompressStats.compress_ratio(col("text")).as("r"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val mem = MemoryStream[EventStreams.Doc]
    val q = mem.toDF()
      .select(col("doc_id"),
        graft.functions.CompressStats.compress_ratio(col("text")).as("r"))
      .writeStream.outputMode("append").format("memory")
      .queryName("gz_out").start()
    try {
      mem.addData(docs: _*)
      q.processAllAvailable()
      val stream = spark.table("gz_out").as[(Long, Double)].collect().toMap
      assert(stream == batch, "the same expression must score identically in a stream")
      assert(stream(1L) < stream(2L), "repetitive doc compresses harder")
    } finally q.stop()
  }

  test("stateless LM scoring on a doc stream: map-only, no state store") {
    // the trigram LM trains in BATCH (bounded collect, like centroids)
    // and scores the stream as a pure column expression — no streaming
    // aggregation, no state; a doc's score is identical to the batch
    // scorer's because the expression is the same object
    implicit val sc = spark.sqlContext
    val corpus = Tables.documents(spark, "/root/testdata/sf0.001")
    val (lm, total) = graft.operators.TextAnalysis.trainTrigramLm(corpus)
    val scorer = graft.operators.TextAnalysis.lmScore(lm, total) _
    val english = "the quick brown fox jumps over the lazy dog in the park"
    val mash = "qzx jkq vvw zzq xqj wqz kjx qqz zxv jqk"
    val mem = MemoryStream[EventStreams.Doc]
    val out = mem.toDF().select(col("doc_id"), scorer(col("text")).as("lp"))
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("lm_out").start()
    try {
      mem.addData(EventStreams.Doc(1, ts(0), english),
        EventStreams.Doc(2, ts(1), mash))
      q.processAllAvailable()
      val scores = spark.table("lm_out").as[(Long, Double)].collect().toMap
      assert(scores(1L) > scores(2L) + 1.0,
        s"english ${scores(1L)} must far outscore key-mash ${scores(2L)}")
      // batch twin: same expression over a batch frame gives identical values
      val batch = Seq((1L, english), (2L, mash)).toDF("doc_id", "text")
        .select(col("doc_id"), scorer(col("text")).as("lp"))
        .as[(Long, Double)].collect().toMap
      assert(scores == batch, s"stream $scores vs batch $batch")
    } finally q.stop()
  }

  test("stateless DSIR weighting on a doc stream: map-only, no state store") {
    // the LM pair trains in BATCH (one bounded aggregate); the
    // importance ratio applies to the stream as one map-only column —
    // the shape DSIR resampling takes on a live intake feed
    implicit val sc = spark.sqlContext
    val fit = Seq(("data table query join spark", true),
      ("data table query join spark agg", true),
      ("zebra yoga violin umbrella xylophone", false),
      ("violin umbrella zebra xylophone yoga", false))
      .toDF("text", "is_t")
    val m = graft.operators.TextAnalysis.trainDsirLms(fit, col("is_t"))
    val weigh = graft.operators.TextAnalysis.dsirWeight(m) _
    val mem = MemoryStream[EventStreams.Doc]
    val q = mem.toDF().select(col("doc_id"), weigh(col("text")).as("w"))
      .writeStream.outputMode("append")
      .format("memory").queryName("dsir_out").start()
    try {
      mem.addData(EventStreams.Doc(1, ts(0), "spark query join data"),
        EventStreams.Doc(2, ts(1), "umbrella violin yoga zebra"),
        EventStreams.Doc(3, ts(2), "never seen trigrams qqq zzz"))
      q.processAllAvailable()
      val w = spark.table("dsir_out").as[(Long, Double)].collect().toMap
      // target-looking text above off-domain; novel text is finite (the
      // Laplace floor catches unseen trigrams on both ratio sides)
      assert(w(1L) > w(2L),
        s"target-domain ${w(1L)} must outscore off-domain ${w(2L)}")
      assert(!w(3L).isNaN && !w(3L).isInfinite)
      val batch = Seq((1L, "spark query join data"),
        (2L, "umbrella violin yoga zebra"),
        (3L, "never seen trigrams qqq zzz")).toDF("doc_id", "text")
        .select(col("doc_id"), weigh(col("text")).as("w"))
        .as[(Long, Double)].collect().toMap
      assert(w == batch, s"stream $w vs batch $batch")
    } finally q.stop()
  }

  test("trained quality gate on a doc stream: map-only, batch ≡ stream") {
    // fourth member of the fit/apply serving family (LM, DSIR, BPE, and
    // now the LR gate): the model fits in batch, inlines as literals,
    // and scores a stream with no state store
    implicit val sc = spark.sqlContext
    val m = graft.queries.TextQueries.qlrModel(spark, "/root/testdata/sf0.001")
    val score = graft.operators.TextAnalysis.qualityLrScore(m) _
    val mem = MemoryStream[EventStreams.Doc]
    val q = mem.toDF().select(col("doc_id"), score(col("text")).as("s"))
      .writeStream.outputMode("append")
      .format("memory").queryName("qlr_out").start()
    try {
      val clean = "the data and the table in the batch is a key for the scan"
      val soup = "$$% ##@ !!++ ^^&& ;;:: ??//"
      mem.addData(EventStreams.Doc(1, ts(0), clean),
        EventStreams.Doc(2, ts(1), soup))
      q.processAllAvailable()
      val w = spark.table("qlr_out").as[(Long, Double)].collect().toMap
      assert(w(1L) > w(2L), s"clean ${w(1L)} must outscore soup ${w(2L)}")
      val batch = Seq((1L, clean), (2L, soup)).toDF("doc_id", "text")
        .select(col("doc_id"), score(col("text")).as("s"))
        .as[(Long, Double)].collect().toMap
      assert(w == batch, s"stream $w vs batch $batch")
    } finally q.stop()
  }

  test("drift alarm on a doc stream: planted profile shift trips, in-profile batch doesn't") {
    implicit val sc = spark.sqlContext
    import graft.operators.TextAnalysis
    // reference: short docs (1-2 tokens → bucket 0)
    val refDocs = (0 until 50).map(i => (i.toLong, s"tok$i word")).toDF("doc_id", "text")
    val ref = TextAnalysis.fitLenHistogram(refDocs)
    val sinkDir = java.nio.file.Files.createTempDirectory("graft_drift").toString
    val mem = MemoryStream[EventStreams.Doc]
    val q = EventStreams.driftAlarmIntake(mem.toDF(), ref, sinkDir, tau = 0.2).start()
    try {
      // batch 0: same profile as the reference → low JSD
      mem.addData((0 until 10).map(i =>
        EventStreams.Doc(i.toLong, ts(i), s"tok$i word")): _*)
      q.processAllAvailable()
      // batch 1: long docs (bucket ≥ 5) → planted drift
      mem.addData((0 until 10).map(i =>
        EventStreams.Doc(100 + i.toLong, ts(i), ("pad " * 60) + i)): _*)
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.read.parquet(sinkDir)
      .select(col("batch_id"), col("n_docs"), col("jsd_r"), col("alarm"))
      .as[(Long, Long, Double, Boolean)].collect().sortBy(_._1)
    assert(rows.length == 2 && rows.forall(_._2 == 10L), s"rows: ${rows.toSeq}")
    assert(!rows(0)._4 && rows(0)._3 < 0.2, s"in-profile batch alarmed: ${rows(0)}")
    assert(rows(1)._4 && rows(1)._3 > 0.2, s"drifted batch silent: ${rows(1)}")
    // stream ≡ batch: recompute the drifted batch's JSD statically
    val staticCounts = (0 until 10).map(i => (100 + i.toLong, ("pad " * 60) + i))
      .toDF("doc_id", "text")
      .select(TextAnalysis.lenBucket(col("text")).as("bucket"))
      .groupBy(col("bucket")).agg(count(lit(1)).as("c"))
      .collect().map(r => r.getLong(0).toInt -> r.getLong(1)).toMap
    val want = math.rint(TextAnalysis.jsdVsRef(staticCounts, ref) * 1e6) / 1e6
    assert(rows(1)._3 == want, s"stream jsd ${rows(1)._3} != batch $want")
  }

  test("q_drift_alarm batch twin ≡ driftAlarmIntake over the same planted batches") {
    // the oracled batch twin and the streaming loop must agree row for
    // row when the intake is fed exactly the twin's planted batches:
    // batch 0 = in-profile sample (doc_id%8 == 4), batch 1 = long-docs
    // supplier switch (doc_id%8 == 0 AND n_chars >= 400), reference fit
    // on the trusted split (doc_id%4 != 0) — all over the real fixture
    implicit val sc = spark.sqlContext
    import graft.operators.TextAnalysis
    val d = "/root/testdata/sf0.001"
    val all = graft.Tables.documents(spark, d)
    val ref = TextAnalysis.fitLenHistogram(
      all.filter(pmod(col("doc_id"), lit(4)) =!= 0))
    def planted(bid: Long) = all
      .filter(if (bid == 0L) pmod(col("doc_id"), lit(8)) === 4
        else pmod(col("doc_id"), lit(8)) === 0 && col("n_chars") >= 400)
      .select(col("doc_id"), col("text")).collect()
      .map(r => EventStreams.Doc(r.getLong(0), ts(r.getLong(0).toInt % 60),
        r.getString(1)))
    val sinkDir = java.nio.file.Files.createTempDirectory("graft_drift_twin").toString
    val mem = MemoryStream[EventStreams.Doc]
    val q = EventStreams.driftAlarmIntake(mem.toDF(), ref, sinkDir, tau = 0.15).start()
    try {
      mem.addData(planted(0L): _*)
      q.processAllAvailable()
      mem.addData(planted(1L): _*)
      q.processAllAvailable()
    } finally q.stop()
    val stream = spark.read.parquet(sinkDir)
      .select(col("batch_id"), col("n_docs"), col("jsd_r"), col("alarm"))
      .as[(Long, Long, Double, Boolean)].collect().sortBy(_._1)
    val twin = graft.SparkEntry.queries("q_drift_alarm")(spark, d)
      .as[(Long, Long, Double, Long)].collect().sortBy(_._1)
    assert(stream.length == 2 && twin.length == 2)
    stream.zip(twin).foreach { case ((sb, sn, sj, sa), (tb, tn, tj, ta)) =>
      assert(sb == tb && sn == tn, s"batch/count: stream ($sb,$sn) twin ($tb,$tn)")
      // intake rounds via math.rint, the twin via Spark round() — equal
      // except at exact 6dp half boundaries, so compare at the seam width
      assert(math.abs(sj - tj) <= 1e-6, s"jsd: stream $sj twin $tj")
      assert(sa == (ta == 1L), s"alarm: stream $sa twin $ta")
    }
    assert(twin(0)._4 == 0L && twin(1)._4 == 1L, s"planted alarms: ${twin.toSeq}")
  }

  test("BM25 relevance gate on a doc stream: map-only, batch ≡ stream") {
    // relevance member of the intake-gate family: corpus stats fit in
    // batch (fitBm25), score serves as one aggregate-HOF pass — no
    // state store, no stream-side join
    implicit val sc = spark.sqlContext
    import graft.queries.TextQueries
    val m = TextQueries.bm25Model(spark, "/root/testdata/sf0.001")
    val score = graft.operators.TextAnalysis.bm25Score(m) _
    val sinkDir = java.nio.file.Files.createTempDirectory("graft_bm25_gate").toString
    val mem = MemoryStream[EventStreams.Doc]
    // tau between the relevant and irrelevant docs' scores
    val relevant = "query stream hash vector query table scan"
    val offTopic = "the filler words carry no relevance at all"
    val q = EventStreams.bm25GateIntake(mem.toDF(), m, sinkDir, tau = 0.1).start()
    try {
      mem.addData(EventStreams.Doc(1, ts(0), relevant),
        EventStreams.Doc(2, ts(1), offTopic))
      q.processAllAvailable()
      mem.addData(EventStreams.Doc(3, ts(2), "vector hash padding words"))
      q.processAllAvailable()
    } finally q.stop()
    val kept = spark.read.parquet(sinkDir).select(col("doc_id"))
      .as[Long].collect().toSet
    assert(kept == Set(1L, 3L), s"kept $kept")
    // batch ≡ stream on the same rows
    val batchKept = Seq((1L, relevant), (2L, offTopic),
      (3L, "vector hash padding words")).toDF("doc_id", "text")
      .filter(score(col("text")) >= 0.1)
      .select(col("doc_id")).as[Long].collect().toSet
    assert(batchKept == kept, "stream gate must equal batch filter")
  }

  test("stateless BPE tokenization on a doc stream: batch ≡ stream") {
    // merges train in BATCH (bounded vocab loop, like the LM and the
    // IVF-PQ model) and the encoder applies to the stream as one fused
    // map-only expression — no state store, no stream-side join
    implicit val sc = spark.sqlContext
    val merges = graft.queries.TextQueries.bpeModel(spark, "/root/testdata/sf0.001")
    def encoded(df: org.apache.spark.sql.DataFrame) =
      df.select(col("doc_id"),
        graft.functions.TextHashFunctions
          .bpe_encode(graft.operators.Dedup.tokens(col("text")), merges).as("sub"))
    val mem = MemoryStream[EventStreams.Doc]
    val q = encoded(mem.toDF()).writeStream.outputMode("append")
      .format("memory").queryName("bpe_out").start()
    val texts = Seq((1L, "the newest lower estimates"), (2L, "best test rest"))
    try {
      mem.addData(texts.map { case (i, t) => EventStreams.Doc(i, ts(0), t) }: _*)
      q.processAllAvailable()
      val streamed = spark.table("bpe_out").as[(Long, Seq[String])].collect().toMap
      val batch = encoded(texts.toDF("doc_id", "text"))
        .as[(Long, Seq[String])].collect().toMap
      assert(streamed == batch, s"stream $streamed vs batch $batch")
      assert(streamed.values.forall(_.nonEmpty))
    } finally q.stop()
  }

  test("streaming IVF cell routing: map-only assignCell, batch ≡ stream") {
    // the coarse quantizer fits in BATCH (bounded sample, like the LM)
    // and routes the embedding stream as a pure column — no state store,
    // no stream-side join: each arriving vector gets its inverted-file
    // cell (= shard / partition at rest) with zero exchanges
    implicit val sc = spark.sqlContext
    val sf = "/root/testdata/sf0.001"
    val cents = graft.queries.SimilarityQueries.ivfpqModel(spark, sf).cents
    val vecs = Tables.embeddings(spark, sf).filter(col("vec_id") < 20)
      .select(col("vec_id"), col("embedding").cast("array<float>"))
      .as[Vec].collect().toSeq
    val mem = MemoryStream[Vec]
    val out = mem.toDF().select(col("vec_id"),
      graft.operators.Similarity.assignCell(cents, col("embedding")).as("cell"))
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("cell_out").start()
    try {
      mem.addData(vecs: _*)
      q.processAllAvailable()
      val streamed = spark.table("cell_out").as[(Long, Int)].collect().toMap
      val batch = vecs.toDF().select(col("vec_id"),
        graft.operators.Similarity.assignCell(cents, col("embedding")).as("cell"))
        .as[(Long, Int)].collect().toMap
      assert(streamed.size == 20 && streamed == batch,
        s"stream $streamed vs batch $batch")
      assert(streamed.values.forall(c => c >= 1 && c <= cents.length))
    } finally q.stop()
  }

  test("transformWithState event-time timer closes sessions when the watermark passes") {
    implicit val sc = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val mem = MemoryStream[EventStreams.Ev]
      val out = EventStreams.sessionCloseV2(mem.toDS(), gapMinutes = 30)
      val q = out.writeStream.outputMode("append")
        .format("memory").queryName("close_out").start()
      try {
        // user 1's session: two events 10 min apart
        mem.addData(
          EventStreams.Ev(1, ts(0), 1, "a", 2.0),
          EventStreams.Ev(2, new java.sql.Timestamp(ts(0).getTime + 600000L), 1, "a", 3.0))
        q.processAllAvailable()
        assert(spark.table("close_out").count() == 0,
          "session must not close before the gap elapses")
        // a much later event (other user) advances the watermark far past
        // user 1's close timer (last_ts + 30 min)
        mem.addData(EventStreams.Ev(3, ts(180), 2, "a", 1.0))
        q.processAllAvailable()
        mem.addData(EventStreams.Ev(4, ts(240), 2, "a", 1.0))
        q.processAllAvailable()
        val closed = spark.table("close_out")
          .as[EventStreams.ClosedSession].collect()
          .filter(_.user_id == 1L)
        assert(closed.length == 1, s"exactly one closed session: ${closed.mkString(",")}")
        assert(closed.head.n_events == 2 && closed.head.total_value == 5.0)
        assert(closed.head.last_sec == (ts(0).getTime + 600000L) / 1000L)
      } finally q.stop()
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("transformWithState: kill and resume restores RocksDB state from checkpoint") {
    implicit val sc = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val dir = java.nio.file.Files.createTempDirectory("graft_tws").toString
      val mem = MemoryStream[EventStreams.Ev]
      def start() = EventStreams.runningUserTotalsV2(mem.toDS())
        .writeStream.outputMode("append")
        .format("parquet").option("path", s"$dir/out")
        .option("checkpointLocation", s"$dir/ckpt").start()
      val q1 = start()
      try {
        mem.addData(
          EventStreams.Ev(1, ts(0), 1, "a", 2.0),
          EventStreams.Ev(2, ts(1), 1, "a", 3.0))
        q1.processAllAvailable()
      } finally q1.stop() // kill
      val q2 = start() // resume from the same checkpoint
      try {
        mem.addData(EventStreams.Ev(3, ts(2), 1, "a", 5.0))
        q2.processAllAvailable()
      } finally q2.stop()
      val rows = spark.read.parquet(s"$dir/out")
        .as[EventStreams.SessionUpdate].collect()
        .map(u => (u.user_id, u.n_events, u.total_value)).toSet
      // the restarted query must CONTINUE the per-user state: (1,3,10.0),
      // not a recount from zero (1,1,5.0)
      assert(rows == Set((1L, 2L, 5.0), (1L, 3L, 10.0)), rows.toString)
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("file stream source: new parquet files picked up incrementally") {
    val dir = java.nio.file.Files.createTempDirectory("graft_fsrc").toString
    val cols = Seq("event_id", "ts", "user_id", "event_type", "value")
    val e1 = Seq((1L, ts(0), 1L, "a", 1.0), (2L, ts(1), 1L, "b", 2.0))
      .toDF(cols: _*)
    e1.write.mode("append").parquet(s"$dir/in")
    val stream = spark.readStream.schema(e1.schema).parquet(s"$dir/in")
    val q = EventStreams.tumblingCounts(stream, "1 hour", "2 hours")
      .writeStream.outputMode("complete")
      .format("memory").queryName("fsrc_out").start()
    try {
      q.processAllAvailable()
      val n1 = spark.table("fsrc_out").agg(sum(col("n"))).first().getLong(0)
      assert(n1 == 2, s"first batch: $n1")
      // a new file landing in the directory is the incremental unit
      Seq((3L, ts(2), 2L, "a", 3.0)).toDF(cols: _*)
        .write.mode("append").parquet(s"$dir/in")
      q.processAllAvailable()
      val n2 = spark.table("fsrc_out").agg(sum(col("n"))).first().getLong(0)
      assert(n2 == 3, s"after new file: $n2")
    } finally q.stop()
  }

  test("Trigger.AvailableNow: periodic batch-incremental ingest over a file source") {
    // the operational pattern for periodic 100 TB ingest: run as a batch
    // job, process exactly the files that have arrived, checkpoint, exit;
    // the next run picks up only new files.
    val dir = java.nio.file.Files.createTempDirectory("graft_avnow").toString
    val cols = Seq("event_id", "ts", "user_id", "event_type", "value")
    Seq((1L, ts(0), 1L, "a", 1.0), (2L, ts(1), 1L, "b", 2.0))
      .toDF(cols: _*).write.mode("append").parquet(s"$dir/in")
    val schema = spark.read.parquet(s"$dir/in").schema
    def runOnce(): Unit = {
      val q = spark.readStream.schema(schema).parquet(s"$dir/in")
        .writeStream.outputMode("append")
        .format("parquet").option("path", s"$dir/out")
        .option("checkpointLocation", s"$dir/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination(60000L)
      assert(!q.isActive, "AvailableNow must terminate on its own")
    }
    runOnce()
    assert(spark.read.parquet(s"$dir/out").count() == 2)
    Seq((3L, ts(2), 2L, "a", 3.0)).toDF(cols: _*)
      .write.mode("append").parquet(s"$dir/in")
    runOnce()
    val out = spark.read.parquet(s"$dir/out")
    assert(out.count() == 3, "second run processes ONLY the new file, no reprocessing")
    assert(out.select(col("event_id")).as[Long].collect().toSet == Set(1L, 2L, 3L))
  }

  test("runningUserTotals accumulates custom state per user") {
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[EventStreams.Ev]
    val out = EventStreams.runningUserTotals(mem.toDS())
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("state_out").start()
    try {
      mem.addData(
        EventStreams.Ev(1, ts(0), 1, "a", 2.0),
        EventStreams.Ev(2, ts(1), 1, "a", 3.0),
        EventStreams.Ev(3, ts(2), 2, "a", 7.0))
      q.processAllAvailable()
      val rows = spark.table("state_out")
        .as[EventStreams.SessionUpdate].collect().map(u => (u.user_id, u.n_events, u.total_value)).toSet
      assert(rows == Set((1L, 2L, 5.0), (2L, 1L, 7.0)))
    } finally q.stop()
  }

  /** The composed curationIntake fixture under a fresh temp dir: gate
    * models with known decisions, one bench doc, a one-hash index, and a
    * budget of 2 docs from s1 and 1 from s2.
    */
  private class CurationFixture {
    import graft.operators.TextAnalysis
    val tmp = java.nio.file.Files.createTempDirectory("graft_curation").toString
    val indexDir = s"$tmp/index"; val sinkDir = s"$tmp/sink"
    val ledgerDir = s"$tmp/ledger"
    // every admissible doc carries the BM25 query term "data"
    val soup = "$$% ##@ !!++ ^^&& ;;:: ??//"
    val offTopic = "the filler words carry no relevance to the fixed terms"
    val benchDoc = "the secret benchmark answer key for the eval suite tonight"
    val contaminated = "data point where the secret benchmark answer key appears"
    val knownDoc = "data already in the corpus index from an earlier full ingest"
    val novelA = "data document one with clean english words for the intake test"
    val novelB = "data document two with clean english words for the intake test"
    val novelC = "data document three with clean english words for the intake test"
    val novelD = "data document four with clean english words for the intake test"
    // synthetic LR gate with KNOWN weights (−10 on the punct-ratio
    // feature): punctuation soup → sigmoid(1−10·~0.8) ≈ 0, plain
    // English → sigmoid(1) ≈ 0.73 — a deterministic decision served
    // through the real qualityLrScore path
    val quality = TextAnalysis.QualityLrModel(1.0,
      Array.tabulate(TextAnalysis.qualityLrDim)(i => if (i == 0) -10.0 else 0.0))
    val tauQ = 0.5
    val bm25 = TextAnalysis.Bm25Model(1.2, 0.75, 9.0, Map("data" -> 1.5))
    val ref = TextAnalysis.fitLenHistogram(
      Seq(novelA, novelB, novelC, novelD).toDF("text"))
    val bench = Seq((100L, benchDoc)).toDF("doc_id", "text")
    val targets = Some(Map("s1" -> 2L, "s2" -> 1L))
    Seq(knownDoc).toDF("text").select(md5(col("text")).as("content_hash"))
      .write.parquet(indexDir)
    def wire(mem: MemoryStream[EventStreams.SourcedDoc]) =
      EventStreams.curationIntake(mem.toDF(), quality, tauQ, bm25, 0.01,
        bench, ref, 0.6, targets, indexDir, sinkDir, ledgerDir)
    // cycle 1 of the composed test: one micro-batch exercising every gate
    val c1 = Seq(
      EventStreams.SourcedDoc(1, ts(0), "s1", soup),         // quality gate
      EventStreams.SourcedDoc(2, ts(1), "s1", offTopic),     // relevance gate
      EventStreams.SourcedDoc(3, ts(2), "s1", contaminated), // decontam verify
      EventStreams.SourcedDoc(4, ts(3), "s1", knownDoc),     // index gate
      EventStreams.SourcedDoc(5, ts(4), "s1", novelA),       // admitted
      EventStreams.SourcedDoc(6, ts(5), "s1", novelA),       // in-stream dup
      EventStreams.SourcedDoc(7, ts(6), "s1", novelB),       // admitted
      EventStreams.SourcedDoc(8, ts(7), "s1", novelC),       // s1 budget full
      EventStreams.SourcedDoc(9, ts(8), "s2", novelD))       // admitted (s2)
  }

  test("curationIntake: ONE composed loop — full gate funnel, closed index " +
      "loop, budget resumption across a restart, batch ≡ stream") {
    implicit val sc = spark.sqlContext
    import graft.operators.{Mix, TextAnalysis}
    val f = new CurationFixture
    import f._
    // ---- cycle 1: one micro-batch exercising every gate ----
    val mem1 = MemoryStream[EventStreams.SourcedDoc]
    val q1 = wire(mem1).start()
    try { mem1.addData(c1: _*); q1.processAllAvailable() } finally q1.stop()
    val afterC1 = spark.read.parquet(sinkDir).select(col("text"))
      .as[String].collect().toSet
    assert(afterC1 == Set(novelA, novelB, novelD), s"cycle 1 admitted $afterC1")
    // funnel ledger: 9 in → 6 past the plan gates (soup, offTopic, one
    // in-stream dup dropped; knownDoc now rides INTO the batch as a
    // bloom-flagged candidate since the r12 gate-6a move) → 4 clean
    // (index verify drops knownDoc, contam verify drops the
    // contaminated doc) → 3 admitted; no drift alarm
    val led1 = spark.read.parquet(ledgerDir)
      .select(col("n_batch"), col("n_clean"), col("n_admitted"), col("alarm"))
      .as[(Long, Long, Long, Boolean)].collect()
    assert(led1.toSeq == Seq((6L, 4L, 3L, false)), s"ledger ${led1.toSeq}")
    // batch ≡ stream: the proven batch operators composed in the same
    // order admit the same TEXT set (doc_id of a dup pair is arbitrary
    // in both domains) against the pre-cycle index state
    val batchIn = c1.toDF()
    val batchAdmitted = Mix.admitByBudget(
      TextAnalysis.decontaminate(
        batchIn
          .filter(TextAnalysis.qualityLrScore(quality)(col("text")) >= tauQ)
          .filter(TextAnalysis.bm25Score(bm25)(col("text")) >= 0.01)
          .withColumn("content_hash", md5(col("text")))
          .join(Seq(knownDoc).toDF("t")
            .select(md5(col("t")).as("content_hash")),
            Seq("content_hash"), "left_anti")
          .dropDuplicates("content_hash"),
        bench, 5),
      Seq(("s1", 2L), ("s2", 1L)).toDF("source", "target"),
      col("source"), Seq(col("ts"), col("doc_id")))
      .select(col("text")).as[String].collect().toSet
    assert(batchAdmitted == afterC1,
      s"batch composition $batchAdmitted != stream $afterC1")
    // ---- cycle 2: FRESH query (restart) — index gate sees cycle 1's
    // appends; the budget ledger rederives from the sink (s1 full at
    // 2/2, s2 has 0/1 room... s2 admitted one, so full too; re-offer
    // novelC on s1 → budget-rejected, novelA twin → index-rejected ----
    val c2 = Seq(
      EventStreams.SourcedDoc(20, ts(20), "s1", novelA), // in index now
      EventStreams.SourcedDoc(21, ts(21), "s1", novelC)) // s1 budget spent
    val mem2 = MemoryStream[EventStreams.SourcedDoc]
    val q2 = wire(mem2).start()
    try { mem2.addData(c2: _*); q2.processAllAvailable() } finally q2.stop()
    val afterC2 = spark.read.parquet(sinkDir).select(col("text"))
      .as[String].collect().toSet
    assert(afterC2 == afterC1,
      s"cycle 2 must admit nothing: index catches the re-offer, the " +
        s"rederived budget catches novelC — got ${afterC2 -- afterC1}")
    val led2 = spark.read.parquet(ledgerDir).orderBy(col("n_batch"))
      .select(col("n_batch"), col("n_clean"), col("n_admitted"))
      .as[(Long, Long, Long)].collect().toSeq
    assert(led2 == Seq((2L, 1L, 0L), (6L, 4L, 3L)), s"ledgers $led2")
    // closed loop: index = seeded hash + the three admitted hashes, each
    // appended once (the append-back writes the batch's unique hashes)
    assert(spark.read.parquet(indexDir).distinct().count() == 4L)
    assert(spark.read.parquet(indexDir).count() == 4L)
  }

  /** Per job: (stream query id, batch id, SQL execution id). Per SQL
    * execution: the nodes of its plans (the initial one and every
    * adaptive update).
    */
  private final class JobRecorder extends org.apache.spark.scheduler.SparkListener {
    import org.apache.spark.scheduler.{SparkListenerEvent, SparkListenerJobStart}
    import org.apache.spark.sql.execution.SparkPlanInfo
    import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate,
      SparkListenerSQLExecutionStart}
    import scala.jdk.CollectionConverters._
    private val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(String, String, String)]()
    private val nodes = new java.util.concurrent.ConcurrentHashMap[String, Seq[SparkPlanInfo]]()
    private def walk(p: SparkPlanInfo): Seq[SparkPlanInfo] = p +: p.children.flatMap(walk)
    private def record(id: Long, p: SparkPlanInfo): Unit =
      nodes.merge(id.toString, walk(p), _ ++ _)
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = e.properties
      jobs.add((p.getProperty("sql.streaming.queryId", ""),
        p.getProperty("streaming.sql.batchId", ""),
        p.getProperty("spark.sql.execution.id", "")))
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => record(s.executionId, s.sparkPlanInfo)
      case u: SparkListenerSQLAdaptiveExecutionUpdate => record(u.executionId, u.sparkPlanInfo)
      case _ =>
    }
    /** Runs `body` with this recorder attached; every event posted before
      * it returns has been delivered once the marker job's start is seen.
      */
    def during[T](body: => T): T = {
      import org.scalatest.concurrent.Eventually._
      import org.scalatest.time.SpanSugar._
      spark.sparkContext.addSparkListener(this)
      try body
      finally {
        val marker = java.util.UUID.randomUUID().toString
        spark.sparkContext.setLocalProperty("streaming.sql.batchId", marker)
        try spark.sparkContext.parallelize(Seq(1), 1).count()
        finally spark.sparkContext.setLocalProperty("streaming.sql.batchId", null)
        eventually(timeout(10.seconds), interval(20.millis)) {
          assert(jobs.asScala.exists(_._2 == marker))
        }
        spark.sparkContext.removeSparkListener(this)
      }
    }
    /** The jobs of `batchId` of stream query `queryId`, as execution ids. */
    def batchJobs(queryId: java.util.UUID, batchId: Long): Seq[String] =
      jobs.asScala.toSeq.collect {
        case (q, b, e) if q == queryId.toString && b == batchId.toString => e
      }
    private def planOf(execution: String): Seq[SparkPlanInfo] =
      Option(nodes.get(execution)).getOrElse(Nil)
    /** Whether a plan of `execution` scans a file under `dir`. */
    def scans(dir: String)(execution: String): Boolean = {
      val path = new java.io.File(dir).toURI.toString.stripSuffix("/")
      planOf(execution).exists(_.metadata.get("Location").exists(_.contains(path)))
    }
    def nodeNames(execution: String): Set[String] = planOf(execution).map(_.nodeName).toSet
  }

  /** Feeds each doc group as one micro-batch of `q`; returns their batch ids. */
  private def feedBatches[T](mem: MemoryStream[T],
      q: org.apache.spark.sql.streaming.StreamingQuery, groups: Seq[Seq[T]]): Seq[Long] =
    groups.map { docs =>
      mem.addData(docs: _*); q.processAllAvailable()
      q.recentProgress.filter(_.numInputRows > 0).last.batchId
    }

  test("curationIntake per-micro-batch job budget; a batch with no flagged " +
      "row reads no index file") {
    implicit val sc = spark.sqlContext
    val f = new CurationFixture
    val rec = new JobRecorder
    // a fifth clean doc: its hash is not in the one-hash index and misses
    // the wiring-time bloom, so no row of its batch is flagged; s2's
    // budget is spent by cycle 1, so the funnel rejects it at gate 7
    val unflagged = Seq(EventStreams.SourcedDoc(30, ts(30), "s2",
      "data document five with clean english words for the intake test"))
    val mem = MemoryStream[EventStreams.SourcedDoc]
    val q = f.wire(mem).start()
    val Seq(flaggedBatch, cleanBatch) = rec.during {
      try feedBatches(mem, q, Seq(f.c1, unflagged)) finally q.stop()
    }
    val flaggedJobs = rec.batchJobs(q.id, flaggedBatch)
    val cleanJobs = rec.batchJobs(q.id, cleanBatch)
    // the flagged batch verifies against the index in exactly one job
    // (gate 6a's confirmed hashes are computed once, then a label) ...
    val scanning = flaggedJobs.count(rec.scans(f.indexDir))
    assert(scanning == 1, s"flagged batch scanned the index in $scanning jobs")
    // ... and the unflagged batch plans no index scan at all
    val touched = cleanJobs.count(rec.scans(f.indexDir))
    assert(touched == 0, s"unflagged batch read the index in $touched jobs")
    // the budget: the batch-size-and-flag aggregate, the flagged-hash
    // collect and the index scan (flagged batch only), the labeled
    // funnel with its grouped collect, and the sink, index and ledger
    // writes
    assert(flaggedJobs.size <= 8, s"flagged batch ran ${flaggedJobs.size} jobs")
    assert(cleanJobs.size <= 6, s"unflagged batch ran ${cleanJobs.size} jobs")
    val ledger = spark.read.parquet(f.ledgerDir).orderBy(col("batch_id"))
      .select(col("n_batch"), col("n_clean"), col("n_admitted"))
      .as[(Long, Long, Long)].collect().toSeq
    assert(ledger == Seq((6L, 4L, 3L), (1L, 1L, 0L)), s"ledger $ledger")
  }

  test("curationIntake job budget for a dup-heavy batch: the index is " +
      "scanned in exactly one job") {
    implicit val sc = spark.sqlContext
    val f = new CurationFixture
    val known = (0 until 70).map(i => s"data known doc $i already sits in the corpus index")
    val tmp = java.nio.file.Files.createTempDirectory("graft_curation_many").toString
    known.toDF("text").select(md5(col("text")).as("content_hash")).write.parquet(s"$tmp/index")
    val rec = new JobRecorder
    // 67 index hashes and two novel docs in one batch
    val batch = known.drop(3).zipWithIndex.map { case (t, i) =>
      EventStreams.SourcedDoc(100 + i, ts(i), "s1", t)
    } ++ Seq(EventStreams.SourcedDoc(1, ts(80), "s1", f.novelA),
      EventStreams.SourcedDoc(2, ts(81), "s1", f.novelB))
    val mem = MemoryStream[EventStreams.SourcedDoc]
    val q = EventStreams.curationIntake(mem.toDF(), f.quality, f.tauQ, f.bm25, 0.01,
      f.bench, f.ref, 0.6, None, s"$tmp/index", s"$tmp/sink", s"$tmp/ledger").start()
    val Seq(manyBatch) = rec.during {
      try feedBatches(mem, q, Seq(batch)) finally q.stop()
    }
    val jobs = rec.batchJobs(q.id, manyBatch)
    val scanning = jobs.count(rec.scans(s"$tmp/index"))
    assert(scanning == 1, s"dup-heavy batch scanned the index in $scanning jobs")
    assert(jobs.size <= 7, s"dup-heavy batch ran ${jobs.size} jobs")
    val ledger = spark.read.parquet(s"$tmp/ledger")
      .select(col("n_batch"), col("n_clean"), col("n_admitted"))
      .as[(Long, Long, Long)].collect().toSeq
    assert(ledger == Seq((69L, 2L, 2L)), s"ledger $ledger")
  }

  test("decontamIntake under the broadcast bound: a batch is a map-only " +
      "label, with no broadcast of the bench grams") {
    implicit val sc = spark.sqlContext
    val f = new CurationFixture
    val sinkDir = s"${f.tmp}/decontam_sink"
    val rec = new JobRecorder
    val mem = MemoryStream[EventStreams.Doc]
    val q = EventStreams.decontamIntake(mem.toDF(), f.bench, sinkDir).start()
    val Seq(batch) = rec.during {
      try feedBatches(mem, q, Seq(Seq(EventStreams.Doc(1, ts(0), f.contaminated),
        EventStreams.Doc(2, ts(1), f.novelA), EventStreams.Doc(3, ts(2), f.novelB))))
      finally q.stop()
    }
    val jobs = rec.batchJobs(q.id, batch)
    assert(jobs.nonEmpty)
    jobs.foreach { e =>
      val exchanges = rec.nodeNames(e).filter(_.contains("Exchange"))
      assert(exchanges.isEmpty, s"execution $e planned $exchanges")
    }
    val kept = spark.read.parquet(sinkDir).select(col("doc_id")).as[Long].collect().toSet
    assert(kept == Set(2L, 3L), s"kept $kept")
  }

  test("decontamIntake above the broadcast bound: the shuffle verify keeps " +
      "the same docs and unpersists every batch") {
    implicit val sc = spark.sqlContext
    val f = new CurationFixture
    val sinkDir = s"${f.tmp}/decontam_shuffle_sink"
    val mem = MemoryStream[EventStreams.Doc]
    val wired = EventStreams.decontamIntake(mem.toDF(), f.bench, sinkDir,
      maxBroadcastGrams = 0L)
    // after wiring, which keeps the bench grams checkpointed for the run
    val cachedBefore = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val q = wired.start()
    try feedBatches(mem, q, Seq(Seq(EventStreams.Doc(1, ts(0), f.contaminated),
      EventStreams.Doc(2, ts(1), f.novelA), EventStreams.Doc(3, ts(2), f.novelB))))
    finally q.stop()
    val left = spark.sparkContext.getPersistentRDDs.keySet.toSet -- cachedBefore
    assert(left.isEmpty, s"batch left cached RDDs $left")
    val kept = spark.read.parquet(sinkDir).select(col("doc_id")).as[Long].collect().toSet
    assert(kept == Set(2L, 3L), s"kept $kept")
  }

  test("curationIntake fallbacks (shuffle verify, no index bloom, >64 flagged " +
      "hashes) leave the default wiring's sink and ledger") {
    implicit val sc = spark.sqlContext
    import graft.operators.TextAnalysis
    val quality = TextAnalysis.QualityLrModel(1.0,
      Array.tabulate(TextAnalysis.qualityLrDim)(i => if (i == 0) -10.0 else 0.0))
    val bm25 = TextAnalysis.Bm25Model(1.2, 0.75, 9.0, Map("data" -> 1.5))
    val bench = Seq((100L, "the secret benchmark answer key for the eval suite tonight"))
      .toDF("doc_id", "text")
    val novel = Seq("one", "two", "three", "four")
      .map(w => s"data document $w with clean english words for the intake test")
    val ref = TextAnalysis.fitLenHistogram(novel.toDF("text"))
    // 70 distinct gate-passing docs already in the index
    val known = (0 until 70).map(i => s"data known doc $i already sits in the corpus index")
    def doc(id: Long, min: Int, text: String) = EventStreams.SourcedDoc(id, ts(min), "s1", text)
    // batch 1 flags 3 index hashes, batch 2 the other 67
    val batch1 = Seq(
      doc(1, 0, "$$% ##@ !!++ ^^&& ;;:: ??//"),
      doc(2, 1, "the filler words carry no relevance to the fixed terms"),
      doc(3, 2, "data point where the secret benchmark answer key appears"),
      doc(4, 3, novel(0)), doc(5, 4, novel(0)), doc(6, 5, novel(1))) ++
      known.take(3).zipWithIndex.map { case (t, i) => doc(10 + i, 6 + i, t) }
    val batch2 = Seq(
      doc(201, 120, "data row two where the secret benchmark answer key appears"),
      doc(202, 121, novel(2)), doc(203, 122, novel(3))) ++
      known.drop(3).zipWithIndex.map { case (t, i) => doc(300 + i, 130 + i, t) }
    def run(maxBroadcastGrams: Long, maxBloomHashes: Long)
        : (Set[String], Seq[(Long, Long, Long, Double, Boolean)]) = {
      val tmp = java.nio.file.Files.createTempDirectory("graft_curation_fb").toString
      known.toDF("text").select(md5(col("text")).as("content_hash"))
        .write.parquet(s"$tmp/index")
      val mem = MemoryStream[EventStreams.SourcedDoc]
      val q = EventStreams.curationIntake(mem.toDF(), quality, 0.5, bm25, 0.01,
        bench, ref, 0.6, None, s"$tmp/index", s"$tmp/sink", s"$tmp/ledger",
        maxBroadcastGrams = maxBroadcastGrams, maxBloomHashes = maxBloomHashes)
        .start()
      try {
        mem.addData(batch1: _*); q.processAllAvailable()
        mem.addData(batch2: _*); q.processAllAvailable()
      } finally q.stop()
      (spark.read.parquet(s"$tmp/sink").select(col("text")).as[String].collect().toSet,
        spark.read.parquet(s"$tmp/ledger").orderBy(col("n_batch"))
          .select(col("n_batch"), col("n_clean"), col("n_admitted"),
            col("jsd_r"), col("alarm"))
          .as[(Long, Long, Long, Double, Boolean)].collect().toSeq)
    }
    val (defaultSink, defaultLedger) = run(5000000L, 10000000L)
    assert(defaultSink == novel.toSet, s"default wiring admitted $defaultSink")
    // batch 1: 6 past the plan gates (soup, off-topic, in-stream dup
    // dropped) → 2 clean; batch 2: 70 → 2 clean; no budget
    assert(defaultLedger.map(r => (r._1, r._2, r._3)) == Seq((6L, 2L, 2L), (70L, 2L, 2L)),
      s"default ledger $defaultLedger")
    for ((name, (sink, ledger)) <- Seq(
        "maxBroadcastGrams = 0" -> run(0L, 10000000L),
        "maxBloomHashes = 0" -> run(5000000L, 0L))) {
      assert(sink == defaultSink, s"$name: sink $sink")
      assert(ledger == defaultLedger, s"$name: ledger $ledger vs $defaultLedger")
    }
  }

  test("heavyHittersIntake: hard-bounded sharded state; MG membership and error invariants") {
    implicit val sc = spark.sqlContext
    val K = 4
    val SHARDS = 2
    // 60 hot + 12 noise types x 5 — far more distinct items than K slots
    val items = Seq.fill(60)("hot") ++
      (0 until 12).flatMap(i => Seq.fill(5)(s"noise_$i"))
    val shuffled = new scala.util.Random(11).shuffle(items)
    val mem = MemoryStream[E]
    val sink = scala.collection.mutable.ArrayBuffer
      .empty[(Long, EventStreams.ShardedCount)]
    val q = EventStreams.heavyHittersIntake(mem.toDF(), k = K, shards = SHARDS)
      .writeStream.outputMode("append")
      .foreachBatch {
        (b: org.apache.spark.sql.Dataset[EventStreams.ShardedCount], id: Long) =>
          sink.synchronized { sink ++= b.collect().map(id -> _) }; ()
      }.start()
    try {
      shuffled.grouped(60).zipWithIndex.foreach { case (chunk, i) =>
        mem.addData(chunk.zipWithIndex.map { case (it, j) =>
          E(i * 1000L + j, ts(i * 10), 1L, it, 1.0) })
        q.processAllAvailable()
      }
    } finally q.stop()
    // latest summary per shard (each batch re-emits the full summary)
    val latest = sink.synchronized(sink.toList)
      .groupBy(_._2.shard).toSeq.flatMap { case (_, rs) =>
        val last = rs.map(_._1).max
        rs.filter(_._1 == last).map(_._2)
      }
    // hard state bound: ≤ K counters per shard, ever
    latest.groupBy(_.shard).foreach { case (s, rows) =>
      assert(rows.size <= K, s"shard $s overflowed: ${rows.size}")
    }
    // exact truth + the engine's own shard assignment
    val truth = items.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val shardOf = truth.keys.toSeq.toDF("item")
      .select(col("item"), pmod(xxhash64(col("item")), lit(SHARDS.toLong)).as("s"))
      .as[(String, Long)].collect().toMap
    val nShard = truth.toSeq.groupBy { case (i, _) => shardOf(i) }
      .view.mapValues(_.map(_._2).sum).toMap
    val est = latest.map(r => r.item -> r.est).toMap
    latest.foreach { r =>
      assert(r.est <= truth(r.item), s"MG may never overcount: $r") }
    truth.foreach { case (item, n) =>
      val bound = nShard(shardOf(item)) / (K + 1.0)
      if (n > bound) {
        assert(est.contains(item), s"guaranteed hitter $item missing")
        assert(truth(item) - est(item) <= bound, s"error bound broken for $item")
      }
    }
    // merged global top-1 is the planted hot item
    val merged = EventStreams.mergeHeavyHitters(
      latest.toDF().select(col("shard"), col("item"), col("est")), 3)
      .collect()
    assert(merged.head.getString(0) == "hot", merged.mkString(","))
  }

  test("heavyHittersBatch twin: same MG invariants under eviction; exact when items ≤ k; null-tolerant") {
    val K = 4
    val SHARDS = 2
    // same planted regime as the streaming test: 60 hot + 12 noise x 5,
    // plus null poison pills the shard key must not crash on
    val items = Seq.fill(60)("hot") ++
      (0 until 12).flatMap(i => Seq.fill(5)(s"noise_$i"))
    val shuffled = new scala.util.Random(11).shuffle(items)
    val ev = (shuffled.zipWithIndex
      .map { case (it, j) => (j.toLong, it) } :+
      (9001L, null.asInstanceOf[String]))
      .toDF("event_id", "event_type")
    val summary = EventStreams.heavyHittersBatch(ev, k = K, shards = SHARDS)
      .collect().toSeq
    summary.groupBy(_.shard).foreach { case (s, rows) =>
      assert(rows.size <= K, s"shard $s overflowed: ${rows.size}") }
    val truth = items.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val shardOf = truth.keys.toSeq.toDF("item")
      .select(col("item"), pmod(xxhash64(col("item")), lit(SHARDS.toLong)).as("s"))
      .as[(String, Long)].collect().toMap
    val nShard = truth.toSeq.groupBy { case (i, _) => shardOf(i) }
      .view.mapValues(_.map(_._2).sum).toMap
    val est = summary.map(r => r.item -> r.est).toMap
    summary.foreach { r =>
      assert(r.est <= truth(r.item), s"MG may never overcount: $r") }
    truth.foreach { case (item, n) =>
      val bound = nShard(shardOf(item)) / (K + 1.0)
      if (n > bound) {
        assert(est.contains(item), s"guaranteed hitter $item missing")
        assert(truth(item) - est(item) <= bound, s"error bound broken for $item")
      }
    }
    // the q_heavy_hitters oracle lemma: with ≤ k distinct items per
    // shard MG never decrements, so every counter is EXACT and
    // arrival-order independent
    val small = EventStreams.heavyHittersBatch(
      ev.filter(col("event_type").isin("hot", "noise_0", "noise_1")),
      k = 16, shards = SHARDS).collect()
    val smallTruth = Map("hot" -> 60L, "noise_0" -> 5L, "noise_1" -> 5L)
    assert(small.map(r => r.item -> r.est).toMap == smallTruth)
  }

  test("funnelIntake: 3-stage state machine ≡ batch funnel over a time-ordered replay") {
    implicit val sc = spark.sqlContext
    import graft.streaming.EventStreams.FunnelStage
    val mem = MemoryStream[E]
    val sink = scala.collection.mutable.ArrayBuffer.empty[FunnelStage]
    val q = EventStreams.funnelIntake(mem.toDF())
      .writeStream.outputMode("append")
      .foreachBatch { (b: org.apache.spark.sql.Dataset[FunnelStage], _: Long) =>
        sink.synchronized { sink ++= b.collect() }; ()
      }.start()
    // u1 full funnel; u2's click ties the view's SECOND (strictly-after
    // rejects it, so the purchase can't complete either); u3's first
    // click precedes any view (ignored) and its first purchase precedes
    // the qualifying click (ignored) — only the batch-2 purchase lands.
    // Batch split at minute 14 keeps per-user arrival time-ordered
    // ACROSS batches (the stated replay contract).
    val b1 = Seq(E(1, ts(0), 1, "view", 1.0), E(4, ts(0), 2, "view", 1.0),
      E(5, ts(0), 2, "click", 1.0), E(7, ts(5), 3, "click", 1.0),
      E(6, ts(5), 2, "purchase", 1.0), E(8, ts(10), 3, "view", 1.0),
      E(2, ts(10), 1, "click", 1.0), E(10, ts(12), 3, "purchase", 1.0))
    val b2 = Seq(E(9, ts(15), 3, "click", 1.0), E(3, ts(20), 1, "purchase", 1.0),
      E(11, ts(30), 3, "purchase", 1.0))
    try {
      mem.addData(b1: _*); q.processAllAvailable()
      mem.addData(b2: _*); q.processAllAvailable()
    } finally q.stop()
    val base = Seq(ts(0)).toDF("ts")
      .select(unix_timestamp(col("ts"))).head.getLong(0)
    val got = sink.synchronized(sink.toSet)
    val expect = Set(
      FunnelStage(1L, 1, base), FunnelStage(1L, 2, base + 600),
      FunnelStage(1L, 3, base + 1200),
      FunnelStage(2L, 1, base),
      FunnelStage(3L, 1, base + 600), FunnelStage(3L, 2, base + 900),
      FunnelStage(3L, 3, base + 1800))
    assert(got == expect, s"got $got")
    // stage counts are exactly the batch funnel's n_view/n_view_click/n_funnel
    val counts = got.toSeq.groupBy(_.stage).view.mapValues(_.size).toMap
    assert(counts == Map(1 -> 3, 2 -> 2, 3 -> 2))
  }

  test("funnelIntake: null user/ts events are filtered, not poison pills") {
    // a null user_id (or null ts) reaching the non-nullable typed decode
    // crashes the query — the single-bad-event failure the intake must
    // shed (same guard class as heavyHittersIntake's null shard key)
    val ts0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    val ts2 = java.sql.Timestamp.valueOf("2024-01-01 00:02:00")
    val rows = Seq(
      (java.lang.Long.valueOf(1L), "view", ts0),
      (null.asInstanceOf[java.lang.Long], "view", ts0),
      (java.lang.Long.valueOf(1L), "click", ts2),
      (java.lang.Long.valueOf(2L), "view", null.asInstanceOf[java.sql.Timestamp]))
      .toDF("user_id", "event_type", "ts")
    val out = graft.streaming.EventStreams.funnelIntake(rows).collect()
    assert(out.map(s => (s.user_id, s.stage)).toSet == Set((1L, 1), (1L, 2)),
      s"null rows must drop, valid rows must progress: ${out.toSeq}")
  }

  test("scd2Intake: planted transitions close/open versions correctly") {
    implicit val sc = spark.sqlContext
    def d(s: String) = java.sql.Date.valueOf(s)
    val mem = MemoryStream[EventStreams.StatusObs]
    val sink = scala.collection.mutable.ArrayBuffer
      .empty[(Long, EventStreams.Scd2Row)]
    val q = EventStreams.scd2Intake(mem.toDS()).writeStream
      .outputMode("append")
      .foreachBatch {
        (b: org.apache.spark.sql.Dataset[EventStreams.Scd2Row], id: Long) =>
          sink.synchronized { sink ++= b.collect().map(id -> _) }; ()
      }.start()
    try {
      mem.addData(
        EventStreams.StatusObs(7L, d("2024-01-01"), 1L, "O"),
        EventStreams.StatusObs(7L, d("2024-01-03"), 2L, "O"))
      q.processAllAvailable()
      val afterB1 = sink.synchronized(sink.toList)
      assert(afterB1.map(_._2) ==
        List(EventStreams.Scd2Row(7L, 1L, "O", d("2024-01-01"), null, 2L, 1L)))
      // batch 2: same-date tie (obs_id orders F before P) + a change
      mem.addData(
        EventStreams.StatusObs(7L, d("2024-01-05"), 4L, "P"),
        EventStreams.StatusObs(7L, d("2024-01-05"), 3L, "F"))
      q.processAllAvailable()
    } finally q.stop()
    val rows = sink.synchronized(sink.toList).map(_._2)
    assert(rows.contains(
      EventStreams.Scd2Row(7L, 1L, "O", d("2024-01-01"), d("2024-01-05"), 2L, 0L)))
    assert(rows.contains(
      EventStreams.Scd2Row(7L, 2L, "F", d("2024-01-05"), d("2024-01-05"), 1L, 0L)))
    assert(rows.contains(
      EventStreams.Scd2Row(7L, 3L, "P", d("2024-01-05"), null, 1L, 1L)))
  }

  test("scd2Intake: streamed dimension maintenance ≡ q_scd2_intervals batch build") {
    implicit val sc = spark.sqlContext
    val obs = Tables.load(spark, sf, "orders")
      .select(col("o_custkey").as("key"),
        col("o_orderdate").cast("date").as("obs_date"),
        col("o_orderkey").as("obs_id"),
        col("o_orderstatus").as("status"))
      .as[EventStreams.StatusObs]
      .collect().sortBy(r => (r.obs_date.getTime, r.obs_id))
    val mem = MemoryStream[EventStreams.StatusObs]
    val sink = scala.collection.mutable.ArrayBuffer
      .empty[(Long, EventStreams.Scd2Row)]
    val q = EventStreams.scd2Intake(mem.toDS()).writeStream
      .outputMode("append")
      .foreachBatch {
        (b: org.apache.spark.sql.Dataset[EventStreams.Scd2Row], id: Long) =>
          sink.synchronized { sink ++= b.collect().map(id -> _) }; ()
      }.start()
    try {
      // replay the log in date order across 3 micro-batches (the
      // ordering contract of any CDC feed); chunk boundaries may split
      // a (key, date) run — covered because per-key subsequence order
      // is preserved by the global sort
      obs.grouped(obs.length / 3 + 1).foreach { chunk =>
        mem.addData(chunk.toSeq); q.processAllAvailable()
      }
    } finally q.stop()
    // MERGE reduction: per (key, version) the closed row is final;
    // otherwise the open row from the latest batch that touched the key
    val streamed = sink.synchronized(sink.toList)
      .groupBy { case (_, r) => (r.key, r.version) }
      .map { case (_, rs) =>
        rs.find(_._2.is_current == 0L).map(_._2).getOrElse(rs.maxBy(_._1)._2)
      }
      .map(r => (r.key, r.version, r.status, r.valid_from.toString,
        Option(r.valid_to).map(_.toString).getOrElse("-"), r.n_orders,
        r.is_current))
      .toSet
    val batch = SparkEntry.queries("q_scd2_intervals")(spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getDate(3).toString,
        Option(r.getDate(4)).map(_.toString).getOrElse("-"), r.getLong(5),
        r.getLong(6)))
      .toSet
    assert(streamed == batch,
      s"stream-only=${(streamed -- batch).take(3)} batch-only=${(batch -- streamed).take(3)}")
  }
}
