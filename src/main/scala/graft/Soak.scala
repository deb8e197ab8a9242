package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scale soak: measure the HEAVY operator families on synthetic N×
  * blow-ups of the sf0.1 fixture and report the time-vs-data curve —
  * the evidence layer between "plan-asserted scale posture" and an
  * actual cluster run. Families with near-linear ratios (time ratio ≈
  * data ratio) have no super-linear term hiding under the test scale;
  * anything quadratic would show as ratio ≈ N².
  *
  * The N× corpus is a union of N re-keyed copies of `documents`
  * (ids offset per copy; copies 1..N-1 get a 2-token suffix so content
  * hashes differ but shingle sets overlap ~fully — every doc gains
  * N-1 NEAR-duplicates, the adversarial regime for LSH banding and CC:
  * clusters of size N, maximal bucket pressure). `embeddings` blows up
  * as exact re-keyed copies (each vector gains N-1 cosine-1.0
  * neighbors — worst case for top-k tie handling and cell crowding).
  * The ANN query batch and the decontamination bench suite are FIXED
  * across scales (a production workload's query side doesn't grow with
  * the corpus), so those families measure pure corpus-side scaling.
  *
  * Each scale's tables are materialized to parquet first (one-time
  * build, untimed) so every family reads a real on-disk table with
  * natural scan parallelism. One untimed warmup pass (scale 1) absorbs
  * JIT/codegen compilation before any timed pass, mirroring Bench.
  *
  * Prints ONE JSON line:
  * `{"soak":{"scales":[...],"rows":{...},"families":{name:{"x1":s,
  * "x10":s,"ratio":r},...}}}` — ratio = t(maxScale)/t(1).
  */
object Soak {

  def main(args: Array[String]): Unit = {
    val sfDir = Harness.sfDir("/root/testdata/sf0.1")
    val scales = sys.env.getOrElse("SPARK_GRAFT_SOAK_SCALES", "1,3,10")
      .split(",").map(_.trim.toInt).toSeq
    val spark = Harness.session()

    import graft.operators.{Dedup, Similarity, TextAnalysis}

    val docs0 = Tables.documents(spark, sfDir)
    val emb0 = Tables.load(spark, sfDir, "embeddings")
    // fixed across scales: the query batch and the bench suite
    val queries = emb0.orderBy(col("vec_id")).limit(32).persist()
    val bench = docs0.orderBy(col("doc_id")).limit(50)
      .select(col("doc_id"), col("text")).persist()
    queries.count(); bench.count()

    val tmp = java.nio.file.Files.createTempDirectory("graft_soak").toString
    def materialize(name: String, scale: Int): (DataFrame, DataFrame) = {
      val d = s"$tmp/${name}_x$scale"
      (0 until scale).map { i =>
        docs0.select(
          (col("doc_id") + lit(i.toLong * 100000000L)).as("doc_id"),
          (if (i == 0) col("text")
           else concat(col("text"), lit(s" copy $i"))).as("text"),
          col("lang"), col("source"), col("n_chars"))
      }.reduce(_ unionByName _).write.mode("overwrite").parquet(s"$d/docs")
      (0 until scale).map { i =>
        emb0.select((col("vec_id") + lit(i.toLong * 100000000L)).as("vec_id"),
          col("embedding"), col("label"))
      }.reduce(_ unionByName _).write.mode("overwrite").parquet(s"$d/emb")
      (spark.read.parquet(s"$d/docs"), spark.read.parquet(s"$d/emb"))
    }

    import Harness.noop

    // fit-once per scaled corpus (the apply line measures SERVING)
    val ivfCache = scala.collection.mutable.Map.empty[Long, Similarity.IvfPqModel]
    def ivfModels(emb: DataFrame): Similarity.IvfPqModel = {
      val key = System.identityHashCode(emb).toLong
      ivfCache.getOrElseUpdate(key, Similarity.fitIvfPq(emb))
    }

    // the soaked families — each a closure over the SCALED tables
    def families(docs: DataFrame, emb: DataFrame): Seq[(String, () => Unit)] = Seq(
      "exact_dedup" -> (() => noop(Dedup.exactDedup(docs))),
      "minhash_pairs" -> (() => noop(
        Dedup.bucketPairs(Dedup.minhashBuckets(docs)))),
      // default guard: local union-find below 200k edges (x1/x3 here),
      // distributed pointer jumping above (x10 crosses the guard)
      "dedup_cc" -> (() => noop(Dedup.connectedComponents(
        Dedup.bucketPairs(Dedup.minhashBuckets(docs))))),
      // forced-distributed twin: the apples-to-apples time-vs-scale
      // curve of the 100 TB path, unmixed with the guard crossover
      "dedup_cc_dist" -> (() => noop(Dedup.connectedComponents(
        Dedup.bucketPairs(Dedup.minhashBuckets(docs)), localThreshold = 0L))),
      "decontam_bloom" -> (() => noop(
        TextAnalysis.decontaminateBloom(docs, bench))),
      "corpus_pipeline" -> (() => {
        val qd = docs.filter(TextAnalysis.qualityScore(col("text")) >= 0.4)
        val deduped = qd.join(
          Dedup.exactDedup(qd).select(col("keep_id").as("doc_id")),
          Seq("doc_id"), "left_semi")
        noop(TextAnalysis.decontaminateBloom(deduped, bench))
      }),
      "bm25_fit" -> (() => {
        TextAnalysis.fitBm25(docs, Seq("query", "stream", "vector", "hash"))
        ()
      }),
      "ann_brute" -> (() => noop(
        Similarity.bruteForceTopK(emb, queries, 10))),
      // the fit line REFITS every timing run (a memo hit would time ~0
      // under median-of-N) and refreshes the cache the apply line serves
      "ann_ivfpq_fit" -> (() => {
        ivfCache(System.identityHashCode(emb).toLong) = Similarity.fitIvfPq(emb)
        ()
      }),
      "ann_ivfpq_apply" -> (() => noop(Similarity.ivfPqApply(
        emb, queries, 10, ivfModels(emb)))),
      // fixed-round Lloyd (r11 late addition, soaked per the r12
      // worklist): 3 assign/update rounds over the scaled embeddings —
      // per round one broadcast-k assignment pass + one k-row update
      // aggregate, so a clean plan reads ~linear in corpus size
      "kmeans_steps" -> (() => noop(
        Similarity.lloydSteps(emb, k = 4, rounds = 3))),
      // round-12: the LOSSLESS PPJoin on the ADVERSARIAL blow-up — every
      // doc gains N−1 near-identical copies ("copy i" suffixes), so the
      // true pair count itself grows ~N²/2 per doc group; this family
      // measures the prefix filter under maximal candidate pressure
      // (the regime where a lossy-but-cheap LSH would be tempting)
      "ssjoin" -> (() => noop(
        Dedup.prefixJaccardJoin(docs, tn = 4, td = 5))),
      // round-12: repetition rules — embarrassingly parallel per-doc
      // n-gram counts; the flat-curve control row (any super-linear
      // reading here means the tokenize barrier or the explode fan-out
      // regressed, not the data)
      "rep_rules" -> (() => noop(TextAnalysis.repetitionStats(docs))),
      // round-13: two range-partitioned global ranks + a bounded-offsets
      // broadcast + one position join — the curve certifies the
      // no-per-group-window shape stays ~linear as the corpus grows
      "quantile_norm" -> (() => noop(graft.operators.Rank
        .quantileNormalize(docs, "source", "n_chars", "doc_id", "norm"))),
      // round-14: rare-gram-blocked diagonal islands on the adversarial
      // blow-up — the copies push every 5-gram's dfreq UP, so past the
      // cap the blocking DROPS saturated grams and the family measures
      // the intended regime (rare-gram attribution), not an all-pairs
      // quadratic
      "cross_doc_spans" -> (() => noop(Dedup.crossDocSpans(docs))),
      // round-14 batch 6: the DIRECTIONAL containment join on the same
      // adversarial blow-up — copies are near-identical, so true
      // containment pairs grow like the ssjoin family's; the B-side
      // indexes ALL tokens, so this row watches the full-postings
      // candidate term stay rare-gram-bounded
      "containment_join" -> (() => noop(
        Dedup.prefixContainmentJoin(docs, tn = 9, td = 10))),
      // round-16: multimodal perceptual-hash dedup end-to-end on the
      // scaled corpus — content-seeded codec ENCODE (map-only, born on
      // executors) + REAL decode to the banded hash + the capped
      // band-bucket pair join + hamming verify. "copy i" suffixes make
      // every scaled doc unique content, so the pair set stays the base
      // corpus's dups per copy and the curve isolates codec + banding
      // cost, which is ~linear by construction (bytes never shuffle;
      // 4 ints per item leave the codec). The hash relation is
      // checkpointed ONCE inside the timed closure — the registered
      // queries' shape (the dup join consumes it 3×; without the
      // materialization each branch re-runs the full decode).
      // (checkpoint RDDs are released by the ContextCleaner when the
      // closure-local handle goes out of scope)
      "image_phash_dups" -> (() => noop(Dedup.bandedHashDups(
        graft.operators.Multimodal.imageAHash(
          graft.operators.Multimodal.contentImageTable(docs)).toDF()
          .localCheckpoint(true)))),
      "audio_phash_dups" -> (() => noop(Dedup.bandedHashDups(
        graft.operators.Multimodal.audioAHash(
          graft.operators.Multimodal.contentAudioTable(docs)).toDF()
          .localCheckpoint(true)))))

    // Trade-table families (round-10 additions): N disjoint re-keyed
    // copies of orders/lineitem written in the Tables layout, so the
    // REGISTERED query closures run unchanged against each scale dir —
    // the soak times exactly what Verify/Bench run.
    //  - pagerank crosses its 2M-edge local guard between x1 (1.2M
    //    edges, driver loop) and x3/x10 (distributed rounds);
    //    pagerank_dist is the forced-distributed twin (the CC pattern);
    //  - join_bucketed's FIRST run per scale pays the one-time bucketed
    //    layout build; the median-of-3 prices the amortized co-located
    //    join, which is the bucketing contract (pay the layout once).
    def materializeTrade(scale: Int): String = {
      val d = s"$tmp/trade_x$scale"
      val o0 = Tables.load(spark, sfDir, "orders")
      val l0 = Tables.load(spark, sfDir, "lineitem")
      val c0 = Tables.load(spark, sfDir, "customer")
      (0 until scale).map { i =>
        o0.select((col("o_orderkey") + lit(i.toLong * 1000000000L)).as("o_orderkey"),
          (col("o_custkey") + lit(i.toLong * 100000000L)).as("o_custkey"),
          col("o_orderstatus"), col("o_totalprice"), col("o_orderdate"),
          col("o_orderpriority"))
      }.reduce(_ unionByName _).write.mode("overwrite").parquet(s"$d/orders.parquet")
      (0 until scale).map { i =>
        l0.select((col("l_orderkey") + lit(i.toLong * 1000000000L)).as("l_orderkey"),
          (col("l_partkey") + lit(i.toLong * 100000000L)).as("l_partkey"),
          (col("l_suppkey") + lit(i.toLong * 100000000L)).as("l_suppkey"),
          col("l_linenumber"), col("l_quantity"), col("l_extendedprice"),
          col("l_discount"), col("l_tax"), col("l_returnflag"),
          col("l_linestatus"), col("l_shipdate"))
      }.reduce(_ unionByName _).write.mode("overwrite").parquet(s"$d/lineitem.parquet")
      // customer re-keyed with the SAME offsets as o_custkey, so every
      // copy's BUILDING segment seeds its own copy of the trade graph
      // (q_ppr_suppliers runs unchanged against the scale dir)
      (0 until scale).map { i =>
        c0.select((col("c_custkey") + lit(i.toLong * 100000000L)).as("c_custkey"),
          col("c_name"), col("c_nationkey"), col("c_mktsegment"),
          col("c_acctbal"))
      }.reduce(_ unionByName _).write.mode("overwrite").parquet(s"$d/customer.parquet")
      // events re-keyed by USER (timestamps unchanged): the day domain
      // stays fixed while per-day rows and per-day active users grow
      // N× — exactly the regime the interval-sweep / rolling-DAU /
      // per-(user,day) TWAP posture notes claim to survive (the r11
      // q_concurrency "per-day bound" question, now measured)
      val e0 = Tables.events(spark, sfDir)
      (0 until scale).map { i =>
        e0.select((col("event_id") + lit(i.toLong * 1000000000L)).as("event_id"),
          col("ts"), (col("user_id") + lit(i.toLong * 100000000L)).as("user_id"),
          col("event_type"), col("value"), col("props"))
      }.reduce(_ unionByName _).write.mode("overwrite").parquet(s"$d/events.parquet")
      d
    }
    // Untimed per-scale table touch: the first family to read a freshly
    // written parquet dir pays footer reads + cold page cache for the
    // WHOLE table — at x10 that cost is scale-proportional and was
    // landing inside whichever family ran first (the r10 guarded-vs-
    // forced pagerank 1.5× "anomaly": the default row ran first at each
    // scale). One untimed sequential read per table levels the field.
    def touchTrade(d: String): Unit = {
      Seq("orders", "lineitem", "customer").foreach { t =>
        try noop(Tables.load(spark, d, t)) catch { case _: Throwable => () }
      }
      try noop(Tables.events(spark, d)) catch { case _: Throwable => () }
    }
    def touchDocs(docs: DataFrame, emb: DataFrame): Unit =
      Seq(docs, emb).foreach { df =>
        try noop(df) catch { case _: Throwable => () }
      }
    def tradeFamilies(d: String): Seq[(String, () => Unit)] = Seq(
      "pagerank" -> (() => noop(SparkEntry.queries("q_pagerank")(spark, d))),
      // forced-distributed twin: the IDENTICAL registered plan (same
      // edge mining, rounding, node sort — pagerankFull is the shared
      // closure) with only the guard forced off, so the two rows are
      // one code path whose x10 readings must agree within noise (the
      // r10 twin rebuilt edges inline minus the output shape, which is
      // what made its reading incomparable — VERDICT r10 What's-wrong #2)
      "pagerank_dist" -> (() => noop(
        graft.queries.AnalyticsQueries.pagerankFull(spark, d, localThreshold = 0L))),
      // seeded-teleport serving twin (VERDICT r10 Missing #2): adds the
      // seeds∩nodes join + normalized teleport build per run
      "ppr_suppliers" -> (() => noop(
        SparkEntry.queries("q_ppr_suppliers")(spark, d))),
      // HITS rides the same guard; its DIRECTED edge set is half
      // pagerank's symmetric one, so the 2M crossover sits between x3
      // (~1.8M edges, driver loop) and x10 (~6M, distributed rounds);
      // hits_dist is the forced twin (one closure)
      "hits" -> (() => noop(SparkEntry.queries("q_hits")(spark, d))),
      "hits_dist" -> (() => noop(
        graft.queries.AnalyticsQueries.hitsFull(spark, d, localThreshold = 0L))),
      "scd2_intervals" -> (() => noop(
        SparkEntry.queries("q_scd2_intervals")(spark, d))),
      "zorder_cluster" -> (() => noop(
        SparkEntry.queries("q_zorder_cluster")(spark, d))),
      "join_bucketed" -> (() => noop(
        SparkEntry.queries("q_join_bucketed")(spark, d))),
      // the co-occurrence pair-count build (the heaviest late-round op:
      // capped quadratic expansion + a ~97%-unique-key count exchange)
      "item_fit" -> (() => noop(
        graft.operators.Recommend.itemNeighbors(Tables.ratings(spark, d)))),
      // item-CF SERVING (VERDICT r10 Missing #2): votes join against the
      // prebuilt index + anti-join + per-user top-k window — the index is
      // built once per scale dir in the untimed warm (itemIndex memo), so
      // this row prices serving, not the fit
      "item_recs" -> (() => noop(
        SparkEntry.queries("q_item_recs")(spark, d))),
      // round-11 late additions: the disjoint-copy re-keying means the
      // x N graph is N copies of the signal graph (edges, wedges, and
      // the SCD2 fact/dim sides all scale ~linearly), so a clean plan
      // reads ~linear here; the min-support aggregate dominates
      // triangles' cost (pair-count exchange over the capped expansion)
      "triangles" -> (() => noop(
        SparkEntry.queries("q_triangles")(spark, d))),
      "scd2_lookup" -> (() => noop(
        SparkEntry.queries("q_scd2_lookup")(spark, d))),
      // weighted SSSP rides the pagerank guard shape (same symmetric
      // trade graph + a per-(c,s) weight aggregate; crossover between
      // x1 and x3); sssp_dist is the forced twin of the SAME closure
      "sssp" -> (() => noop(SparkEntry.queries("q_sssp")(spark, d))),
      "sssp_dist" -> (() => noop(
        graft.queries.AnalyticsQueries.ssspFull(spark, d, localThreshold = 0L))),
      // incremental MV maintenance (r11 late addition): the refresh
      // cost term that must track the DELTA, not the base — but the
      // registered query rebuilds base+delta from the scan each run, so
      // this row prices the full maintain-from-scratch ceiling
      "mv_refresh" -> (() => noop(
        SparkEntry.queries("q_mv_refresh")(spark, d))),
      // round-12: k-core peel (fixed 6 rounds over the disjoint-copy
      // graph — per-round degree agg + two semi-joins, expect ~linear)
      // and the random-walk sampler (FIXED 20-start query side — the
      // serving-shaped row: only the adjacency build grows with scale)
      "kcore" -> (() => noop(SparkEntry.queries("q_kcore")(spark, d))),
      "random_walks" -> (() => noop(
        SparkEntry.queries("q_random_walks")(spark, d))),
      // round-13: the wedge self-join under the per-center 64-cap —
      // disjoint copies keep per-node degree flat, so a clean capped
      // expansion reads ~linear (a super-linear reading means the cap
      // or the min-support pre-filter regressed); and the join-delta
      // IVM's maintain-from-scratch ceiling (delta is %-keyed, so it
      // scales with the copies)
      "link_predict" -> (() => noop(
        SparkEntry.queries("q_link_predict")(spark, d))),
      "mv_join_refresh" -> (() => noop(
        SparkEntry.queries("q_mv_join_refresh")(spark, d))),
      // round-13 batch 2/3: 3-hop multi-seed BFS (frontier-sized
      // relations; disjoint copies keep per-seed reach flat, so the
      // curve prices the edge-build + checkpoint, not frontier growth)
      // and the exact prefix-sum ABC census (one range sort over the
      // per-key aggregate + O(partitions) driver state)
      "closeness" -> (() => noop(
        SparkEntry.queries("q_closeness")(spark, d))),
      "abc_classes" -> (() => noop(
        SparkEntry.queries("q_abc_classes")(spark, d))),
      // event-time tier (first soak coverage): per-day rows and active
      // users grow N× under the user-rekeyed events blow-up while the
      // day domain stays fixed — the adversarial regime for the +1/−1
      // interval sweep's per-day partitions, the bucket-explode rolling
      // DAU, and TWAP's per-(user,day) lead() windows
      "concurrency" -> (() => noop(
        SparkEntry.queries("q_concurrency")(spark, d))),
      "rolling_dau" -> (() => noop(
        SparkEntry.queries("q_rolling_dau")(spark, d))),
      "twap" -> (() => noop(SparkEntry.queries("q_twap")(spark, d))),
      // r14 event-tier additions: cohort matrix (one (user,week)
      // distinct + per-user min), sessionization (per-user windows —
      // users grow N× under the rekey), path trigrams (bounded |types|³
      // domain), and the CUSUM fold (bounded day domain — should stay
      // FLAT, it aggregates to |days| rows before the fold)
      "cohort_retention" -> (() => noop(
        SparkEntry.queries("q_cohort_retention")(spark, d))),
      "sessionize" -> (() => noop(
        SparkEntry.queries("q_sessionize")(spark, d))),
      "session_paths" -> (() => noop(
        SparkEntry.queries("q_session_paths")(spark, d))),
      "cusum_shift" -> (() => noop(
        SparkEntry.queries("q_cusum_shift")(spark, d))),
      // user-keyed 7-day range join + per-purchase windows: the touch
      // fan-out grows with purchases×clicks-per-user-week — the soak
      // watches that product stay user-bounded under the rekey
      "attribution_multi" -> (() => noop(
        SparkEntry.queries("q_attribution_multi")(spark, d))),
      "growth_accounting" -> (() => noop(
        SparkEntry.queries("q_growth_accounting")(spark, d))),
      "interarrival" -> (() => noop(
        SparkEntry.queries("q_interarrival")(spark, d))),
      // round-14 batch 6 trade rows: reorder-survival (per-customer
      // rollup + a ≤366-value fold — the curve prices the rollup),
      // Lorenz knee (ONE range sort + O(partitions) driver state),
      // fact-fact ship-latency join (the heaviest new shuffle), WoW
      // audience overlap (user-week distinct + shifted self-join —
      // users grow N× under the rekey), and the PCA moment scan (one
      // grand aggregate; the iteration is O(1))
      "kaplan_meier" -> (() => noop(
        SparkEntry.queries("q_kaplan_meier")(spark, d))),
      "lorenz_knee" -> (() => noop(
        SparkEntry.queries("q_lorenz_knee")(spark, d))),
      "ship_latency" -> (() => noop(
        SparkEntry.queries("q_ship_latency")(spark, d))),
      "audience_overlap" -> (() => noop(
        SparkEntry.queries("q_audience_overlap")(spark, d))),
      "pca_power" -> (() => noop(
        SparkEntry.queries("q_pca_power")(spark, d))))
    // untimed per-scale index build so the item_recs row is serving-only
    def warmItemIndex(d: String): Unit =
      try { graft.queries.PipelineQueries.itemIndex(spark, d); () }
      catch { case e: Throwable =>
        System.err.println(s"[soak] item index build failed: ${e.getMessage}") }

    // untimed warmup at scale 1: JIT + codegen compilation
    val (wd, we) = materialize("warm", 1)
    families(wd, we).foreach { case (n, f) =>
      try f() catch { case e: Throwable =>
        System.err.println(s"[soak] warmup $n failed: ${e.getMessage}") }
    }
    val wt = materializeTrade(1)
    warmItemIndex(wt)
    tradeFamilies(wt).foreach { case (n, f) =>
      try f() catch { case e: Throwable =>
        System.err.println(s"[soak] warmup $n failed: ${e.getMessage}") }
    }
    // warm the DISTRIBUTED CC path too: at scale 1 (and 3) the pair
    // graph sits under connectedComponents' local union-find guard, so
    // without this the first distributed pointer-jumping run — and its
    // whole-stage-codegen compilation — would land inside the x10 timing
    try noop(Dedup.connectedComponents(
      Dedup.bucketPairs(Dedup.minhashBuckets(wd)), localThreshold = 0L))
    catch { case e: Throwable =>
      System.err.println(s"[soak] warmup dedup_cc_dist failed: ${e.getMessage}") }

    // per-family median-of-N (the Bench discipline — single-run soak
    // numbers at x10 swung up to 5× with machine noise; the median is
    // the comparable unit). SPARK_GRAFT_RUNS overrides (default 3).
    val results = scala.collection.mutable.LinkedHashMap
      .empty[String, scala.collection.mutable.LinkedHashMap[Int, Double]]
    val rowCounts = scala.collection.mutable.LinkedHashMap.empty[Int, (Long, Long)]
    // per-scale |edges|/|nodes| of the iterative-graph inputs (VERDICT
    // r14 Next #6): the co-purchase/trade relations densify SUPER-
    // linearly as the rekeyed fixture grows, so a 10× time ratio alone
    // cannot distinguish input densification from a plan defect — the
    // decomposition time = edges × per-edge-cost is what adjudicates.
    // Counted untimed, once per scale.
    val edgeCounts = scala.collection.mutable.LinkedHashMap
      .empty[Int, Map[String, Long]]
    scales.foreach { n =>
      val (d, e) = materialize("soak", n)
      rowCounts(n) = (d.count(), e.count())
      val td = materializeTrade(n)
      // level the field before timing: cold-scan the fresh tables and
      // build the per-dir serving index untimed
      touchDocs(d, e); touchTrade(td); warmItemIndex(td)
      edgeCounts(n) = try {
        val dirE = graft.queries.AnalyticsQueries
          .directedTradeEdges(spark, td).count()
        val nodes = graft.queries.AnalyticsQueries
          .tradeEdges(spark, td).select("src").distinct().count()
        val pairE = Dedup.bucketPairs(Dedup.minhashBuckets(d)).count()
        Map("trade_dir_edges" -> dirE, "trade_sym_edges" -> dirE * 2,
          "trade_nodes" -> nodes, "minhash_pair_edges" -> pairE)
      } catch { case ex: Throwable =>
        System.err.println(s"[soak] x$n edge count failed: ${ex.getMessage}")
        Map.empty[String, Long]
      }
      System.err.println(s"[soak] x$n edges: ${edgeCounts(n)}")
      // SPARK_GRAFT_ONLY=a,b,c restricts to named families (iteration
      // aid — the per-round evidence run times everything)
      (families(d, e) ++ tradeFamilies(td))
        .filter { case (name, _) => Harness.only.forall(_.contains(name)) }
        .foreach { case (name, f) =>
        val secs = Harness.timings(s"[soak] x$n $name", Harness.runs)(f())
        val med = Harness.median(secs)
        results.getOrElseUpdate(name,
          scala.collection.mutable.LinkedHashMap.empty)(n) =
          if (med >= 0) math.rint(med * 1000) / 1000 else -1.0
        System.err.println(f"[soak] x$n $name%-16s $med%.2f s (median of ${secs.length})")
      }
    }

    val maxN = scales.max
    val fams = results.map { case (name, m) =>
      val ratio =
        if (m.getOrElse(1, -1.0) > 0 && m.getOrElse(maxN, -1.0) > 0)
          math.rint(m(maxN) / m(1) * 100) / 100
        else -1.0
      val per = m.map { case (n, s) => s""""x$n":$s""" }.mkString(",")
      s""""$name":{$per,"ratio":$ratio}"""
    }.mkString(",")
    val rows = rowCounts.map { case (n, (d, e)) =>
      s""""x$n":{"docs":$d,"emb":$e}""" }.mkString(",")
    // Per-edge decomposition for the iterative-graph families (r14 Next
    // #6): seconds-per-million-edges at each scale and its x1→xmax
    // ratio. Iteration counts are FIXED per family (5 power rounds, 4
    // SSSP rounds, bounded CC rounds), so per-edge cost is the right
    // unit. per_edge_ratio ≈ 1 ⇒ the raw time ratio was input
    // densification; >> 1 ⇒ genuine per-edge regression.
    val edgeBase: Map[String, String] = Map(
      "pagerank" -> "trade_sym_edges", "pagerank_dist" -> "trade_sym_edges",
      "ppr_suppliers" -> "trade_sym_edges",
      "sssp" -> "trade_sym_edges", "sssp_dist" -> "trade_sym_edges",
      "hits" -> "trade_dir_edges", "hits_dist" -> "trade_dir_edges",
      "dedup_cc" -> "minhash_pair_edges",
      "dedup_cc_dist" -> "minhash_pair_edges")
    val graphFams = results.toSeq.flatMap { case (name, m) =>
      edgeBase.get(name).flatMap { ek =>
        val e1 = edgeCounts.getOrElse(1, Map.empty).getOrElse(ek, 0L)
        val eN = edgeCounts.getOrElse(maxN, Map.empty).getOrElse(ek, 0L)
        val t1 = m.getOrElse(1, -1.0); val tN = m.getOrElse(maxN, -1.0)
        if (e1 > 0 && eN > 0 && t1 > 0 && tN > 0)
          Some(s""""$name":${graphDecompJson(ek, maxN, e1, eN, t1, tN)}""")
        else None
      }
    }.mkString(",")
    val edgesJson = edgeCounts.map { case (n, m) =>
      s""""x$n":{${m.map { case (k, v) => s""""$k":$v""" }.mkString(",")}}"""
    }.mkString(",")
    println(s"""{"soak":{"sf":"$sfDir","scales":[${scales.mkString(",")}],""" +
      s""""data_ratio":$maxN,"rows":{$rows},"edges":{$edgesJson},""" +
      s""""graph_decomp":{$graphFams},"families":{$fams}}}""")
    spark.stop()
  }

  /** One family's `graph_decomp` object: edge counts and seconds per
    * million edges at x1 (`e1`, `t1`) and at the largest scale `maxN`
    * (`eN`, `tN`), their x1→xmax ratios and a verdict. With one scale the
    * x1 and x`maxN` keys coincide, so each key is written once.
    */
  def graphDecompJson(edgeKind: String, maxN: Int, e1: Long, eN: Long,
      t1: Double, tN: Double): String = {
    val pm1 = t1 / (e1 / 1e6); val pmN = tN / (eN / 1e6)
    val r = math.rint(pmN / pm1 * 100) / 100
    val verdict =
      if (r <= 1.5) "per-edge flat: time growth is edge densification"
      else "per-edge cost grows: plan term super-linear in edges"
    val at = Seq(1 -> (e1, pm1), maxN -> (eN, pmN)).distinctBy(_._1)
    (Seq(s""""edge_kind":"$edgeKind"""") ++
      at.map { case (n, (e, _)) => s""""edges_x$n":$e""" } ++
      Seq(s""""edge_ratio":${math.rint(eN.toDouble / e1 * 100) / 100}""") ++
      at.map { case (n, (_, pm)) => s""""s_per_medge_x$n":${math.rint(pm * 1000) / 1000}""" } ++
      Seq(s""""per_edge_ratio":$r""", s""""verdict":"$verdict""""))
      .mkString("{", ",", "}")
  }
}
