package perfbench

import graft.operators.TextAnalysis
import graft.streaming.EventStreams
import graft.streaming.EventStreams.SourcedDoc
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.{DataFrame, SparkSession}

import scala.collection.mutable

/** The streaming curation intake as a closed loop with one client: the
  * next micro-batch is added to the `MemoryStream` only after
  * `processAllAvailable` returns for the previous one.
  */
object Intake {
  val TauQuality = 0.2
  val TauRelevance = 0.0
  val TauDrift = 0.5
  val WarmupBatches = 2

  /** A wired, started intake with its own directories. */
  final case class Wired(dir: String, mem: MemoryStream[SourcedDoc], query: StreamingQuery) {
    def sink: String = s"$dir/sink"
    def ledger: String = s"$dir/ledger"
  }

  /** Set-up: the feed's corpora, the gate fits (once, as the soak does),
    * the pre-run corpus published to the index, then wiring and start.
    */
  def setUp(spark: SparkSession, tr: Tracer, seed: Long, shape: Inputs.FeedShape,
      dir: String): (Inputs.Feed, Wired) = {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val feed = new Inputs.Feed(seed, shape)
    def frame(docs: Seq[Inputs.Doc]): DataFrame =
      docs.map(d => (d.id, d.source, d.text)).toDF("doc_id", "source", "text")
    val fitDocs = frame(feed.fit)
    val quality = TextAnalysis.fitQualityLr(fitDocs,
      TextAnalysis.qualityScore(col("text")) >= 0.77)
    val bm25 = TextAnalysis.fitBm25(fitDocs, Seq("query", "stream", "vector", "hash"))
    val ref = TextAnalysis.fitLenHistogram(fitDocs)
    val bench = frame(feed.bench).select(col("doc_id"), col("text"))
    val prerun = frame(feed.prerun)
    prerun.select(md5(col("text")).as("content_hash")).write.parquet(s"$dir/index")
    feed.setPassing(prerun
      .filter(TextAnalysis.qualityLrScore(quality)(col("text")) >= TauQuality)
      .filter(TextAnalysis.bm25Score(bm25)(col("text")) >= TauRelevance)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet)
    val targets = Some(Inputs.Sources.map(_ -> 100000000L).toMap)
    val mem = MemoryStream[SourcedDoc]
    val q = tr(Tracer.Wire) {
      EventStreams.curationIntake(mem.toDF(), quality, TauQuality, bm25, TauRelevance,
        bench, ref, TauDrift, targets, s"$dir/index", s"$dir/sink", s"$dir/ledger")
        .option("checkpointLocation", s"$dir/checkpoint")
        .start()
    }
    (feed, Wired(dir, mem, q))
  }

  /** Feeds batch `i` and waits for it; returns its latency in seconds. */
  def step(tr: Tracer, feed: Inputs.Feed, w: Wired, i: Int): (Double, Int) = {
    val docs = feed.batch(i)
    tr(Tracer.Batch) {
      val t0 = System.nanoTime()
      w.mem.addData(docs: _*)
      w.query.processAllAvailable()
      val s = Main.secs(t0)
      if (tr.enabled) {
        tr.note("offered_bytes", docs.map(_.text.getBytes("UTF-8").length.toDouble).sum)
        w.query.recentProgress.reverseIterator.find(_.numInputRows > 0).foreach { p =>
          Seq("addBatch", "queryPlanning", "walCommit").foreach { k =>
            Option(p.durationMs.get(k)).foreach(v => tr.note(s"${k}_ms", v.doubleValue))
          }
          p.stateOperators.headOption.foreach { so =>
            tr.note("state_rows", so.numRowsTotal.toDouble)
            tr.note("state_bytes", so.memoryUsedBytes.toDouble)
          }
        }
      }
      (s, docs.size)
    }
  }

  /** Enough batches that every doc kind, old repeats included, is fed. */
  def minBatches(shape: Inputs.FeedShape): Int = shape.oldLag + 2

  /** Per-batch (n_batch, n_clean, n_admitted), in batch order. */
  def ledgerCounts(spark: SparkSession, dir: String): Seq[(Long, Long, Long)] =
    spark.read.parquet(dir).orderBy(col("batch_id"))
      .select(col("n_batch"), col("n_clean"), col("n_admitted")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq

  def run(newSession: () => SparkSession, tr: Tracer, a: Main.Args): Main.Outcome = {
    val shape = if (a.scale == "small") Inputs.FeedShape.small else Inputs.FeedShape.full
    val setupTimes = mutable.ArrayBuffer.empty[Double]
    val warmLedgers = mutable.ArrayBuffer.empty[Seq[(Long, Long, Long)]]
    var live: (Inputs.Feed, Wired) = null
    var spark: SparkSession = null
    (0 until Main.SetupReps).foreach { rep =>
      tr.unit = -1 - rep
      val t0 = System.nanoTime()
      val fw = tr("setup") {
        spark = newSession()
        setUp(spark, tr, a.seed, shape, s"${a.out}/intake-$rep")
      }
      setupTimes += Main.secs(t0)
      if (rep == 0) {
        // warm-up batches on a throwaway intake; their ledger is also the
        // reference for the same-seed determinism check
        tr.unit = Tracer.Warmup
        (0 until WarmupBatches).foreach(i => step(tr, fw._1, fw._2, i))
        warmLedgers += ledgerCounts(spark, fw._2.ledger)
      }
      if (rep < Main.SetupReps - 1) fw._2.query.stop() else live = fw
    }
    val (feed, w) = live

    val lat = mutable.ArrayBuffer.empty[Double]
    var offered = 0L
    val loop0 = System.nanoTime()
    val cpu0 = Main.cpuNs()
    val deadline = loop0 + a.seconds * 1000000000L
    var i = 0
    tr("loop") {
      do {
        tr.unit = i
        val (s, n) = step(tr, feed, w, i)
        lat += s; offered += n; i += 1
      } while (System.nanoTime() < deadline || i < minBatches(shape))
    }
    val loopS = Main.secs(loop0)
    val loopCpuS = (Main.cpuNs() - cpu0) / 1e9
    val heapMb = Main.liveHeapMb()
    w.query.stop()
    val exc = w.query.exception

    val (checks, badBatches, leaks) = outputChecks(spark, w.sink, ledgerCounts(spark, w.ledger),
      warmLedgers.toSeq, i)
    val failed = if (exc.isDefined) i else badBatches.size
    val table = mutable.LinkedHashMap.empty[String, Main.Metric]
    def m(n: String, v: Double, unit: String, better: String) = table(n) = Main.Metric(v, unit, better)
    val (pName, pValue) = tailPercentile(lat.toSeq)
    m("setup_s", Tracer.median(setupTimes.toSeq), "s", "lower")
    // batches alternate between the two index-probe paths, so the
    // closed-loop cycle time (loop wall / batches) is steadier than a median
    m("pass_s", loopS / i, "s", "lower")
    m("pass_cpu_s", loopCpuS / i, "s", "lower")
    m("batch_p50_s", Tracer.median(lat.toSeq), "s", "lower")
    m(pName, pValue, "s", "lower")
    m("docs_per_s", offered / loopS, "docs/s", "higher")
    m("dup_leaks", leaks.toDouble, "count", "lower")
    m("live_heap_mb", heapMb, "MB", "lower")
    m("fail_ratio", failed.toDouble / i, "ratio", "lower")
    m("batches", i.toDouble, "count", "higher")
    m("docs_offered", offered.toDouble, "count", "higher")
    val failures = checks.filterNot(_._2).map(_._1) ++
      exc.map(e => s"exception: ${String.valueOf(e.getMessage).linesIterator.nextOption().getOrElse("")}")
    Main.Outcome(i, failed, failures, table,
      Seq(s"batch latencies ${lat.map(x => f"$x%.3f").mkString(" ")} s"))
  }

  /** The highest percentile with at least ten batches beyond it (p90 once
    * there are 100 batches), named after that percentile; the maximum
    * when fewer than 20 batches leave no percentile above the median.
    */
  def tailPercentile(lat: Seq[Double]): (String, Double) = {
    val n = lat.size
    val p = math.min(90, ((1.0 - 10.0 / n) * 100).toInt / 5 * 5)
    val s = lat.sorted
    if (p <= 50) ("batch_max_s", s.last)
    else (s"batch_p${p}_s", s(math.ceil(p / 100.0 * n).toInt - 1))
  }

  /** Output checks on one intake run. Returns the checks (name, passed),
    * the batches they failed and `dup_leaks`: sink rows whose content hash
    * was already in the sink before their batch.
    */
  def outputChecks(spark: SparkSession, sinkDir: String, ledger: Seq[(Long, Long, Long)],
      reference: Seq[Seq[(Long, Long, Long)]], batches: Int)
      : (Seq[(String, Boolean)], Set[Int], Long) = {
    val sink = spark.read.parquet(sinkDir)
      .select(col("doc_id"), col("content_hash"),
        (col("doc_id") / 1000000L).cast("int").as("batch"),
        ((col("doc_id") / 100000L).cast("long") % 10).cast("int").as("kind"))
    val forbidden = sink
      .filter(col("kind").isin(Inputs.IndexRepeat, Inputs.PrevRepeat, Inputs.BenchCarrier))
      .select(col("batch")).distinct().collect().map(_.getInt(0)).toSet
    val firstSeen = sink.groupBy(col("content_hash")).agg(min(col("batch")).as("first"))
    val leaks = sink.join(firstSeen, "content_hash").filter(col("batch") > col("first")).count()
    val missing = (ledger.size until batches).toSet
    val differing = (0 until math.min(batches, ledger.size)).filter { b =>
      reference.exists(r => b < r.size && r(b) != ledger(b))
    }.toSet
    (Seq("intake_no_index_prev_or_bench_repeat_in_sink" -> forbidden.isEmpty,
      "intake_ledger_row_per_batch" -> (ledger.size == batches),
      "intake_ledger_same_across_same_seed_runs" -> differing.isEmpty),
      forbidden ++ missing ++ differing, leaks)
  }
}
